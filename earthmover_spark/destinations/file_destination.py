"""File destinations: per-row Jinja template -> text lines -> file
(reference: earthmover/nodes/destination.py:47-182).

Fidelity:
- default template = JSON object of all columns (destination.py:62) —
  fully native ``to_json(struct(*))``, no UDF;
- output casting NULL/NaN -> '' and scalars -> str pre-render
  (destination.py:57-58,32-44);
- ``linearize`` (default True) collapses whitespace runs to one space
  (destination.py:60,94-96);
- optional Jinja ``header``/``footer`` rendered once (against the first
  row, like the reference);
- single output file ``<output_dir>/<name>.<ext>`` for earthmover
  compatibility (streamed from partitions through the driver, bounded
  memory), or ``mode='directory'`` for the 100 TB path: a directory of
  part files written fully in parallel by ``df.write.text`` — no
  driver involvement.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earthmover_spark.functions.jinja_compute import _compile, template_column
from earthmover_spark.util import sql_ident, stringify

_logger = logging.getLogger(__name__)

#: warn threshold for the single-file sink (bytes, Catalyst estimate);
#: read at call time so a mid-session env override takes effect
SINGLE_FILE_WARN_BYTES = 4 << 30


def _single_file_warn_bytes() -> int:
    return int(
        os.environ.get(
            "EARTHMOVER_SPARK_SINGLE_FILE_WARN_BYTES",
            SINGLE_FILE_WARN_BYTES,
        )
    )


def render_lines(
    df: DataFrame,
    template: str | None = None,
    *,
    macros: str = "",
    loader_dir: str | None = None,
    linearize: bool = True,
) -> DataFrame:
    """Render each row to a one-column ('line') DataFrame."""
    import re

    cols = df.columns
    # all-string view with '' for missing (reference destination.py:57)
    casted = stringify(df)
    if template is None:
        line = F.to_json(F.struct(*[F.col(sql_ident(c)) for c in cols]))
    else:
        if linearize:
            # the reference flattens the TEMPLATE source, not the
            # rendered row (destination.py:94-96) — whitespace inside
            # rendered values survives, and Jinja tag trim markers
            # ({%- -%}) interact with the collapsed source. Rendering
            # then collapsing would not be byte-identical.
            template = re.sub(r"\s+", " ", template)
        line = template_column(
            template, cols, macros=macros, loader_dir=loader_dir,
            self_row_data=True, schema=casted.schema,
        )
    return casted.select(line.alias("line"))


def _template_source(
    template: str | None, template_file: str | None, loader_dir
) -> tuple[str | None, object]:
    """The template text and ``{% include %}`` search path a text
    destination renders with: a ``template_file`` is read, and its own
    directory follows ``loader_dir`` (the reference resolves includes
    relative to the config file, destination.py:74; template-relative
    includes come second)."""
    if template_file is None:
        return template, loader_dir
    tdir = os.path.dirname(os.path.abspath(template_file))
    search = [loader_dir] if isinstance(loader_dir, str) else list(loader_dir or [])
    if tdir not in search:
        search.append(tdir)
    with open(template_file) as fh:
        return fh.read(), search


def destination_lines(
    df: DataFrame,
    *,
    template: str | None = None,
    template_file: str | None = None,
    macros: str = "",
    loader_dir=None,
    linearize: bool = True,
) -> DataFrame:
    """The 'line' frame ``write_destination`` writes for these
    arguments (``explain_project`` plans it without writing)."""
    template, loader_dir = _template_source(template, template_file, loader_dir)
    return render_lines(
        df, template, macros=macros, loader_dir=loader_dir, linearize=linearize
    )


def estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the optimized plan (bytes). Driver
    -side metadata only — nothing executes. Upper-bound-ish for scans
    with filters; good enough to size output files."""
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )


def write_columnar(
    df: DataFrame,
    name: str,
    output_dir: str,
    *,
    format: str = "parquet",  # noqa: A002
    partition_by: list[str] | None = None,
    compression: str | None = None,
    mode: str = "overwrite",
    target_file_mb: int | None = None,
) -> str:
    """Columnar destination (engine extension — the reference renders
    text only). Writes parquet/orc/csv part files fully in parallel;
    ``partition_by`` gives hive-style directory partitioning so
    downstream scans prune partitions for free. This is the sink a
    100 TB training-data pipeline should use.

    ``target_file_mb`` fights the small-files problem: the part count
    is derived from Catalyst's size estimate so each output file lands
    near the target (e.g. 256 MB for a healthy object-store layout)
    instead of one tiny file per upstream task. Uses ``coalesce`` when
    shrinking (no shuffle) and ``repartition`` only when more files
    than partitions are needed."""
    out_path = os.path.join(output_dir, f"{name}.{format}.d")
    if target_file_mb:
        est = estimated_plan_bytes(df)
        want = max(1, -(-est // (target_file_mb * 1024 * 1024)))
        have = df.rdd.getNumPartitions()
        df = df.coalesce(want) if want < have else df.repartition(want)
    writer = df.write.mode(mode).format(format)
    if compression:
        writer = writer.option("compression", compression)
    if format == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(out_path)
    return out_path


def write_destination(
    df: DataFrame,
    name: str,
    output_dir: str,
    *,
    template: str | None = None,
    template_file: str | None = None,
    extension: str = "jsonl",
    macros: str = "",
    loader_dir: str | None = None,
    linearize: bool = True,
    header: str | None = None,
    footer: str | None = None,
    mode: str = "file",
) -> str:
    """Render + write a destination; returns the output path.

    ``mode='file'``: single ``<output_dir>/<name>.<extension>`` — the
    reference's contract. Lines stream through the driver partition by
    partition (``toLocalIterator``), so memory stays bounded.
    ``mode='directory'``: ``df.write.text`` part files — the scalable
    default for big outputs.
    """
    template, loader_dir = _template_source(template, template_file, loader_dir)
    lines = render_lines(
        df, template, macros=macros, loader_dir=loader_dir, linearize=linearize
    )

    def _render_once(tmpl: str) -> str:
        first = df.limit(1).collect()
        ctx = dict(first[0].asDict()) if first else {}
        return _compile(tmpl, macros, loader_dir).render(**ctx)

    os.makedirs(output_dir, exist_ok=True)
    if mode == "directory":
        out_path = os.path.join(output_dir, f"{name}.{extension}.d")
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        lines.write.mode("overwrite").text(out_path)
        return out_path

    # Single-file compat mode: render in parallel to part files, then
    # stream-concatenate them on the driver (sequential buffered I/O —
    # orders of magnitude faster than per-row toLocalIterator, still
    # bounded memory). Executors do all the rendering. Memory-bounded
    # but WALL-CLOCK-unbounded: the concatenation is one sequential
    # pass on the driver, so a corpus-sized frame belongs in
    # mode='directory' — warn when Catalyst's estimate crosses the
    # cap (mirrors the pandas-bridge size cap on the read side).
    try:
        est = estimated_plan_bytes(df)
    except AttributeError:  # Spark Connect: no _jdf — skip the heuristic
        est = 0
    if est >= (1 << 63) - 1:
        # Long.MaxValue is Catalyst's UNKNOWN-stats sentinel (e.g. a
        # Python-created local relation) — no signal, no warning
        est = 0
    cap = _single_file_warn_bytes()
    if est > cap:
        _logger.warning(
            "write_destination(mode='file'): plan estimate for %r is "
            "%d bytes (> %d); the single-file sink concatenates "
            "sequentially on the driver — use mode='directory' for "
            "parallel part files, or raise "
            "EARTHMOVER_SPARK_SINGLE_FILE_WARN_BYTES if a file this "
            "size is intended",
            name,
            est,
            cap,
        )
    import glob
    import shutil
    import tempfile

    # destination names may contain '/' (reference writes them as
    # subdirectories: destination.py:124 makedirs the dirname)
    out_path = os.path.join(output_dir, f"{name}.{extension}")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    tmp_dir = tempfile.mkdtemp(
        prefix=f"em_dest_{name.replace(os.sep, '_')}_", dir=output_dir
    )
    parts_dir = os.path.join(tmp_dir, "parts")
    tmp_out = os.path.join(tmp_dir, "out")
    try:
        lines.write.mode("overwrite").text(parts_dir)
        with open(tmp_out, "wb") as fh:
            if header is not None:
                fh.write((_render_once(header) + "\n").encode("utf-8"))
            for part in sorted(glob.glob(os.path.join(parts_dir, "part-*"))):
                with open(part, "rb") as pf:
                    shutil.copyfileobj(pf, fh, 1 << 20)
            if footer is not None:
                fh.write((_render_once(footer) + "\n").encode("utf-8"))
        # the file appears whole or not at all: a failed write leaves
        # any previous output in place, never a truncated file
        os.replace(tmp_out, out_path)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
    return out_path
