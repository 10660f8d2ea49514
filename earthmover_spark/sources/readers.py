"""Source readers (reference: earthmover/nodes/source.py).

Dispatch by file extension or explicit ``type`` (reference
source.py:102-268). Fidelity points:

- CSV/TSV reads are **all-string, empty-string-for-missing** (reference
  source.py:406,419 — ``dtype=str, keep_default_na=False``). We read with
  an explicit all-StringType schema (no inference) and coalesce NULL ->
  ``""``.
- Columnar formats (parquet/orc/feather) pass through with native types
  (reference passes them through untyped, source.py:408-414).
- ``columns:`` is select-or-rename: with ``header_rows`` a header exists
  and ``columns`` renames positionally; the count must match (reference
  source.py:190-216).
- ``optional: True`` + missing file -> empty all-string frame from the
  declared columns (reference source.py:180-182).
- ``optional_fields`` adds missing declared columns as ``""`` (reference
  source.py:82-97).
- Multi-line / sparse headers: the header rows are read driver-side (a
  few KB), flattened to ``lvl1__lvl2`` names, then the distributed scan
  skips them (reference source.py:346-401).

Driver-side pandas bridges (Excel/HTML/XML/SAS/SPSS/Stata/pickle) exist
because these formats are inherently single-file, non-splittable inputs;
the resulting frame is distributed immediately via Arrow
``createDataFrame``.
"""

from __future__ import annotations

import io
import os
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from earthmover_spark.util import EarthmoverSparkError, stringify

#: process-lifetime cache dir for URL-source fetches (see read_source)
_URL_CACHE: str | None = None


def _url_cache_dir() -> str:
    global _URL_CACHE
    if _URL_CACHE is None:
        import atexit
        import shutil
        import tempfile

        _URL_CACHE = tempfile.mkdtemp(prefix="em_spark_url_cache_")
        atexit.register(shutil.rmtree, _URL_CACHE, ignore_errors=True)
    return _URL_CACHE

_EXT_TYPES = {
    ".csv": "csv",
    ".tsv": "tsv",
    ".txt": "fixedwidth",
    ".fwf": "fixedwidth",
    ".json": "json",
    ".jsonl": "jsonl",
    ".ndjson": "jsonl",
    ".parquet": "parquet",
    ".orc": "orc",
    ".feather": "feather",
    ".xls": "excel",
    ".xlsx": "excel",
    ".xlsm": "excel",
    ".html": "html",
    ".xml": "xml",
    ".sas7bdat": "sas",
    ".sav": "spss",
    ".dta": "stata",
    ".pkl": "pickle",
    ".warc": "warc",
}


def _all_string_schema(columns: Sequence[str]) -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType(), True) for c in columns])


def empty_source(spark: SparkSession, columns: Sequence[str]) -> DataFrame:
    """Empty all-string frame from declared columns (optional sources,
    reference source.py:180-182)."""
    return spark.createDataFrame([], _all_string_schema(columns))


def add_optional_fields(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """Add missing declared columns as '' (reference source.py:82-97)."""
    missing = [c for c in fields if c not in df.columns]
    if missing:
        df = df.withColumns({c: F.lit("") for c in missing})
    return df


def _read_header_names(
    path: str,
    header_rows: Sequence[int],
    sep: str,
    encoding: str,
    fill_sparse_headers: bool,
) -> tuple[list[str], int]:
    """Driver-side flatten of multi-line/sparse headers to ``a__b`` names
    (reference source.py:346-401). Returns (names, rows_to_skip)."""
    import csv as _csv

    max_row = max(header_rows)
    rows: list[list[str]] = []
    with open(path, encoding=encoding, newline="") as fh:
        reader = _csv.reader(fh, delimiter=sep)
        for i, row in enumerate(reader):
            if i > max_row:
                break
            rows.append(row)
    levels = [rows[i] if i < len(rows) else [] for i in header_rows]
    width = max(len(r) for r in levels)
    names: list[str] = []
    prev: list[str] = [""] * len(levels)
    for col_idx in range(width):
        parts: list[str] = []
        for li, level in enumerate(levels):
            cell = level[col_idx].strip() if col_idx < len(level) else ""
            if fill_sparse_headers:
                if cell:
                    prev[li] = cell
                else:
                    cell = prev[li]
            if cell:
                parts.append(cell)
        names.append("__".join(parts) if parts else f"col_{col_idx}")
    return names, max_row + 1


def read_csv(
    spark: SparkSession,
    path: str,
    *,
    sep: str = ",",
    encoding: str = "utf-8",
    header_rows: int | Sequence[int] = 1,
    fill_sparse_headers: bool = False,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """All-string CSV/TSV scan, no NA inference (reference source.py:406,419).

    The scan is fully distributed/splittable; only multi-line-header
    name computation touches the driver (a few header lines)."""
    if isinstance(header_rows, (list, tuple)):
        names, skip = _read_header_names(
            path, list(header_rows), sep, encoding, fill_sparse_headers
        )
        # distributed scan skipping the header lines: text scan ->
        # drop the first `skip` lines (monotonic ids are ordered within
        # the first split, which always holds the header) -> from_csv.
        lines = (
            spark.read.text(path)
            .withColumn("__idx__", F.monotonically_increasing_id())
            .filter(F.col("__idx__") >= skip)
        )
        parsed = F.from_csv(
            F.col("value"),
            ", ".join(f"`{n}` string" for n in names),
            {"sep": sep, "escape": '"'},
        )
        df = lines.select(parsed.alias("__row__")).select(
            *[F.col(f"__row__.{n}").alias(n) for n in names]
        )
    elif header_rows == 0:
        if not columns:
            raise EarthmoverSparkError("headerless CSV requires `columns`")
        df = (
            spark.read.schema(_all_string_schema(columns))
            .options(
                sep=sep, header=False, encoding=encoding, emptyValue="",
                escape='"',  # RFC-4180 doubled quotes, like pandas
            )
            .csv(path)
        )
        columns = None  # already applied
    else:
        # peek first line for column names, then scan with explicit schema
        # (inferSchema would type-coerce; we need all-string)
        import csv as _csv

        with open(path, encoding=encoding, newline="") as fh:
            names = next(_csv.reader(fh, delimiter=sep))
        df = (
            spark.read.schema(_all_string_schema(names))
            .options(
                sep=sep, header=True, encoding=encoding, emptyValue="",
                escape='"',  # RFC-4180 doubled quotes, like pandas
            )
            .csv(path)
        )
    if columns:
        if len(columns) != len(df.columns):
            raise EarthmoverSparkError(
                f"`columns` has {len(columns)} entries but source has "
                f"{len(df.columns)} columns"
            )
        df = df.toDF(*columns)
    # missing values are empty strings, not NULLs (keep_default_na=False)
    return stringify(df)


def read_fixedwidth(
    spark: SparkSession,
    path: str,
    *,
    colspecs: Sequence[tuple[int, int]] | None = None,
    colspec_file: str | None = None,
    colspec_headers: Mapping[str, str] | None = None,
    columns: Sequence[str] | None = None,
    encoding: str = "utf-8",
    header_rows: int = 0,
) -> DataFrame:
    """Fixed-width scan: ``spark.read.text`` + one ``substring`` per
    colspec (reference source.py:270-324) — fully distributed, stays in
    codegen.

    ``colspec_file`` is a CSV declaring name + width (cumulative offsets)
    or name + start/end, with header names given by ``colspec_headers``
    (docs/configuration.md:257-356)."""
    names: list[str]
    specs: list[tuple[int, int]]
    if colspec_file is not None:
        import csv as _csv

        hdr = colspec_headers or {}
        name_key = hdr.get("name", "name")
        with open(colspec_file, newline="") as fh:
            rows = list(_csv.DictReader(fh))
        names, specs = [], []
        if "width" in hdr or (rows and "width" in rows[0]):
            width_key = hdr.get("width", "width")
            pos = 0
            for r in rows:
                w = int(r[width_key])
                names.append(r[name_key])
                specs.append((pos, pos + w))
                pos += w
        else:
            start_key = hdr.get("start", "start")
            end_key = hdr.get("end", "end")
            for r in rows:
                names.append(r[name_key])
                specs.append((int(r[start_key]), int(r[end_key])))
    else:
        if columns is None:
            raise EarthmoverSparkError(
                "fixedwidth: need colspecs+columns or colspec_file"
            )
        names = list(columns)
        if colspecs is None:
            # Infer column boundaries from the data, as the reference
            # does (source.py:277 passes colspecs="infer" to read_fwf
            # when only `columns` is given — its example_projects/
            # 07_filetypes relies on this, since its `colspec:` key is
            # not in the reference's accepted set and is ignored):
            # sample a bounded prefix of lines and treat maximal runs
            # of positions that are blank in EVERY sampled line as
            # separators. The 100-line sample mirrors pandas
            # read_fwf's infer_nrows=100 contract — and shares its
            # limitation: a column that only widens after the sample
            # window is silently truncated (pass explicit colspecs
            # for data like that). Inference assumes a SINGLE file:
            # on a multi-file glob, text() row order follows file
            # listing order and the sampled lines may span files.
            sample = [
                r[0] for r in spark.read.text(path).limit(100).collect()
            ]
            sample = sample[header_rows:] if header_rows else sample
            if not sample:
                raise EarthmoverSparkError(
                    "fixedwidth: cannot infer colspecs from an empty file"
                )
            width = max(len(ln) for ln in sample)
            filled = [
                any(p < len(ln) and ln[p] != " " for ln in sample)
                for p in range(width)
            ]
            specs = []
            p = 0
            while p < width:
                if filled[p]:
                    q = p
                    while q < width and filled[q]:
                        q += 1
                    specs.append((p, q))
                    p = q
                else:
                    p += 1
            if len(specs) != len(names):
                raise EarthmoverSparkError(
                    f"fixedwidth: inferred {len(specs)} columns from the "
                    f"data but `columns` names {len(names)} — pass "
                    "explicit `colspecs`"
                )
        else:
            specs = [tuple(s) for s in colspecs]

    lines = spark.read.text(path)
    if header_rows:
        # drop leading header lines without a global shuffle
        lines = (
            lines.withColumn("__idx__", F.monotonically_increasing_id())
            .filter(F.col("__idx__") >= header_rows)
            .drop("__idx__")
        )
    cols = [
        F.trim(F.substring(F.col("value"), start + 1, end - start)).alias(name)
        for name, (start, end) in zip(names, specs)
    ]
    return lines.select(*cols)


def read_source(
    spark: SparkSession,
    file: str | None = None,
    *,
    type: str | None = None,  # noqa: A002 - matches reference config key
    columns: Sequence[str] | None = None,
    optional: bool = False,
    optional_fields: Sequence[str] | None = None,
    encoding: str = "utf-8",
    header_rows: int | Sequence[int] | None = None,
    fill_sparse_headers: bool = False,
    sheet=0,
    match: str | None = None,
    xpath: str | None = None,
    orientation: str | None = None,
    object_type: str = "frame",
    **kwargs,
) -> DataFrame:
    """Dispatch a source read by extension or explicit type
    (reference source.py:102-268).

    ``header_rows=None`` (default) resolves per format, matching the
    reference: CSV/TSV assume one header row; fixed-width assumes NONE
    (the reference passes names + header='infer' to read_fwf, which
    treats row 0 as data when names are given — source.py:277).

    ``rename_cols=True`` (kwarg) applies ``columns`` as a POSITIONAL
    rename after the read, for ANY file type — the reference's generic
    post-read rename (source.py:190-198), used e.g. for ORC files
    whose metadata lacks real column names
    (example_projects/07_filetypes users2)."""
    is_url = bool(file) and file.split("://", 1)[0] in ("http", "https", "ftp")
    if not file or (optional and not is_url and not os.path.exists(file)):
        if optional:
            df = empty_source(spark, list(columns or []))
            return add_optional_fields(df, list(optional_fields or []))
        raise EarthmoverSparkError(f"source file missing: {file!r}")

    if is_url:
        # the reference accepts URLs for `file:` (pandas readers fetch
        # them, e.g. example_projects/07_filetypes). Fetch driver-side
        # into a process-lifetime cache dir (removed at exit), then
        # dispatch on the URL's extension. The file must outlive this
        # call: distributed formats (csv/jsonl/parquet) return lazy
        # scans that re-read it at action time, so a fetch-and-unlink
        # temp file would break execution — and leaking one file per
        # fetch (the round-1 behavior) accumulates over long sessions.
        # Cache key = md5(url): repeated reads of the same URL in one
        # run fetch once.
        import hashlib
        import urllib.request
        from urllib.parse import urlparse

        suffix = os.path.splitext(urlparse(file).path)[1]
        local = os.path.join(
            _url_cache_dir(), hashlib.md5(file.encode()).hexdigest() + suffix
        )
        if not os.path.exists(local):
            part = local + ".part"
            try:
                with urllib.request.urlopen(file, timeout=60) as resp, open(
                    part, "wb"
                ) as out:
                    out.write(resp.read())
                os.rename(part, local)
            except Exception as err:
                if os.path.exists(part):
                    os.unlink(part)
                if optional:
                    df = empty_source(spark, list(columns or []))
                    return add_optional_fields(df, list(optional_fields or []))
                raise EarthmoverSparkError(
                    f"source URL fetch failed: {file!r} ({err})"
                ) from err
        ftype = type or _EXT_TYPES.get(suffix.lower())
        if ftype is None:
            raise EarthmoverSparkError(f"cannot infer source type for {file!r}")
        return read_source(
            spark, local, type=ftype, columns=columns,
            optional_fields=optional_fields, encoding=encoding,
            header_rows=header_rows, fill_sparse_headers=fill_sparse_headers,
            sheet=sheet, match=match, xpath=xpath, orientation=orientation,
            object_type=object_type, **kwargs,
        )

    ftype = type or _EXT_TYPES.get(os.path.splitext(file)[1].lower())
    if ftype is None and file.lower().endswith(".warc.gz"):
        ftype = "warc"  # double extension escapes the splitext map
    if ftype is None:
        raise EarthmoverSparkError(f"cannot infer source type for {file!r}")

    rename_cols = bool(kwargs.get("rename_cols")) and bool(columns)
    if ftype in ("csv", "tsv"):
        sep = "\t" if ftype == "tsv" else kwargs.get("sep", ",")
        df = read_csv(
            spark, file, sep=sep, encoding=encoding,
            header_rows=1 if header_rows is None else header_rows,
            fill_sparse_headers=fill_sparse_headers,
            # with rename_cols the declared names apply positionally
            # AFTER the read (generic path below), not as a select
            columns=None if rename_cols else columns,
        )
    elif ftype == "fixedwidth":
        df = read_fixedwidth(
            spark, file, columns=columns, encoding=encoding,
            header_rows=header_rows if isinstance(header_rows, int) else 0,
            **{k: v for k, v in kwargs.items()
               if k in ("colspecs", "colspec_file", "colspec_headers")},
        )
    elif ftype == "jsonl":
        df = spark.read.json(file)  # native nested StructType
    elif ftype == "json":
        if orientation is not None or object_type == "series":
            # pandas-layout JSON orientations (reference source.py:412:
            # pd.read_json(typ, orient)) — driver-side, dimension-scale
            df = _pandas_bridge(
                spark, file, "json",
                sheet=sheet, match=match, xpath=xpath, encoding=encoding,
                header_rows=header_rows, orientation=orientation,
                object_type=object_type,
            )
        else:
            df = spark.read.option("multiLine", "true").json(file)
    elif ftype == "warc":
        from earthmover_spark.sources.warc import read_warc

        rt = kwargs.get("record_types", ("response",))
        df = read_warc(
            spark, file,
            record_types=rt,  # read_warc handles str/list/None
            strip_http=kwargs.get("strip_http", True),
        )
    elif ftype in ("parquet", "orc"):
        # merge_schema: schema-evolution reads over long-lived datasets
        # (a 100 TB table accretes columns across years of writers) —
        # files missing newer columns surface NULLs instead of the
        # read failing or silently pinning to one footer's schema.
        # Off by default, matching Spark (footer merging scans every
        # file's metadata — a real cost at millions of files).
        reader = spark.read
        if kwargs.get("merge_schema"):
            reader = reader.option("mergeSchema", "true")
        df = getattr(reader, ftype)(file)
    else:
        df = _pandas_bridge(
            spark, file, ftype,
            sheet=sheet, match=match, xpath=xpath, encoding=encoding,
            header_rows=header_rows, orientation=orientation,
        )
    if rename_cols:
        if len(columns) != len(df.columns):
            raise EarthmoverSparkError(
                f"source file {file} specified {len(columns)} `columns` "
                f"but has {len(df.columns)} columns"
            )
        df = df.toDF(*columns)
    return add_optional_fields(df, list(optional_fields or []))


#: driver-side size cap for the pandas-bridge formats. These reads are
#: inherently single-process (matching the reference's own driver-side
#: readers, source.py:407-418) and fine at dimension-table scale; an
#: oversized file should fail with a clear error, not an opaque driver
#: OOM mid-read. Override via EARTHMOVER_SPARK_BRIDGE_MAX_BYTES —
#: read at CALL time in _bridge_max_bytes(), so setting the env var
#: after this module is imported (os.environ mutation mid-session)
#: still takes effect; this constant is only the default.
PANDAS_BRIDGE_MAX_BYTES = 2 << 30


def _bridge_max_bytes() -> int:
    return int(
        os.environ.get(
            "EARTHMOVER_SPARK_BRIDGE_MAX_BYTES", PANDAS_BRIDGE_MAX_BYTES
        )
    )


def _pandas_bridge(
    spark: SparkSession, file: str, ftype: str, *, sheet, match, xpath,
    encoding, header_rows, orientation, object_type="frame",
) -> DataFrame:
    """Driver-side pandas read for non-splittable formats
    (reference source.py:407-418) -> Arrow createDataFrame."""
    import pandas as pd

    try:
        size = os.path.getsize(file)
    except OSError:
        size = 0  # missing/unstatable files fail in the reader below
    cap = _bridge_max_bytes()
    if size > cap:
        raise EarthmoverSparkError(
            f"{ftype} source {file!r} is {size} bytes, over the "
            f"driver-side pandas-bridge cap of {cap} "
            "bytes — this format is read single-process on the driver "
            "and an oversized file would OOM it. Convert the data to a "
            "splittable format (parquet/csv/jsonl) for distributed "
            "reads, or raise EARTHMOVER_SPARK_BRIDGE_MAX_BYTES if the "
            "driver genuinely has the memory."
        )

    if ftype == "json":
        # pandas-layout orientations (columns/index/split/values) and
        # typ='series' (reference source.py:412)
        out = pd.read_json(
            file, orient=orientation, typ=object_type or "frame"
        )
        pdf = out.to_frame("value").reset_index() if object_type == "series" else out
    elif ftype == "excel":
        try:
            pdf = pd.read_excel(file, sheet_name=sheet, dtype=str, keep_default_na=False)
        except ImportError as e:  # openpyxl not in container
            raise EarthmoverSparkError(f"excel reader unavailable: {e}") from e
    elif ftype == "html":
        try:
            pdf = pd.read_html(io.StringIO(open(file, encoding=encoding).read()),
                               match=match or ".+")[0].astype(str)
        except ImportError as e:
            raise EarthmoverSparkError(f"html reader unavailable: {e}") from e
    elif ftype == "xml":
        try:
            pdf = pd.read_xml(file, xpath=xpath or "./*", dtype=str)
        except ImportError as e:
            raise EarthmoverSparkError(f"xml reader unavailable: {e}") from e
    elif ftype == "feather":
        pdf = pd.read_feather(file)
    elif ftype == "sas":
        pdf = pd.read_sas(file).astype(str)
    elif ftype == "spss":
        try:
            pdf = pd.read_spss(file).astype(str)
        except ImportError as e:
            raise EarthmoverSparkError(f"spss reader unavailable: {e}") from e
    elif ftype == "stata":
        pdf = pd.read_stata(file).astype(str)
    elif ftype == "pickle":
        pdf = pd.read_pickle(file)
    else:
        raise EarthmoverSparkError(f"unknown source type {ftype!r}")
    pdf.columns = [str(c) for c in pdf.columns]
    return spark.createDataFrame(pdf)
