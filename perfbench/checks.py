"""Output checks that do not use the engine under test.

Render workloads: the row destination has one line per input row, and a
seeded sample of input rows, read with pyarrow and pushed through the
project's operations and templates with plain ``jinja2``, appears verbatim
in it. A ``school_summary`` destination (``render_jinja``) must hold exactly
the per-school status counts computed from the whole input.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import re

import jinja2
import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import yaml

SAMPLE_ROWS = 200
#: the render projects' destinations: one row per input row, and the
#: optional per-school summary
ROW_DEST = "attendance_events"
SUMMARY_DEST = "school_summary"
_RAW_RE = re.compile(r"\{%-?\s*(?:end)?raw\s*-?%\}")


class CheckFailed(Exception):
    pass


def _env(loader_dir: str | None = None) -> jinja2.Environment:
    env = jinja2.Environment(
        loader=jinja2.FileSystemLoader(loader_dir) if loader_dir else None
    )
    # the reference's template globals (earthmover/util.py)
    env.globals["md5"] = lambda x: hashlib.md5(str(x).encode()).hexdigest()
    env.globals["fromjson"] = lambda x: json.loads(x) if isinstance(x, str) else x
    return env


def _project_spec(project_dir: str) -> dict:
    """The project YAML as data, with ``{% raw %}`` markers removed (the
    engine's compile-time render does the same)."""
    with open(os.path.join(project_dir, "earthmover.yaml")) as fh:
        return yaml.safe_load(_RAW_RE.sub("", fh.read()))


def _read_tsv(tsv_path: str) -> pa.Table:
    table = pacsv.read_csv(
        tsv_path,
        parse_options=pacsv.ParseOptions(delimiter="\t"),
        convert_options=pacsv.ConvertOptions(
            column_types={}, strings_can_be_null=False,
            # every column is read as a string, like the engine's TSV reader
            auto_dict_encode=False,
        ),
        read_options=pacsv.ReadOptions(use_threads=True),
    )
    return table.cast(pa.schema([(n, pa.string()) for n in table.column_names]))


def _row_template(project_dir: str, template: str, macros: str = "") -> jinja2.Template:
    with open(os.path.join(project_dir, template)) as fh:
        # destinations linearize the template source (reference
        # destination.py:94-96)
        return _env(project_dir).from_string(macros + re.sub(r"\s+", " ", fh.read()))


def _source_operations(spec: dict, destination: str) -> list[dict]:
    name = spec["destinations"][destination]["source"].rsplit(".", 1)[1]
    return spec["transformations"][name]["operations"]


def expected_lines(project_dir: str, tsv_path: str, seed: int) -> set[bytes]:
    """Render a seeded sample of input rows the way the project says to,
    using only pyarrow, yaml and jinja2. Supports the operations the
    row destinations use: map_values, rename_columns, add_columns."""
    spec = _project_spec(project_dir)
    macros = (spec.get("config") or {}).get("macros") or ""
    table = _read_tsv(tsv_path)
    rng = np.random.default_rng(seed)
    picks = rng.choice(table.num_rows, min(SAMPLE_ROWS, table.num_rows), replace=False)
    env = _env()
    row_template = _row_template(
        project_dir, spec["destinations"][ROW_DEST]["template"], macros)
    out = set()
    for row in table.take(pa.array(picks)).to_pylist():
        for op in _source_operations(spec, ROW_DEST):
            kind = op["operation"]
            if kind == "map_values":
                row[op["column"]] = op["mapping"].get(row[op["column"]], row[op["column"]])
            elif kind == "rename_columns":
                row = {op["columns"].get(k, k): v for k, v in row.items()}
            elif kind == "add_columns":
                for name, tmpl in op["columns"].items():
                    row[name] = env.from_string(macros + tmpl).render(
                        **row, __row_data__=dict(row)
                    )
            else:
                raise ValueError(f"check does not model operation {kind!r}")
        out.add(row_template.render(**row, __row_data__=row).encode())
    return out


def expected_summary(project_dir: str, tsv_path: str) -> list[bytes]:
    """Every line of the summary destination, sorted: the attendance codes
    mapped as the project maps them, counted per school and status, and
    rendered with the destination's template."""
    spec = _project_spec(project_dir)
    (mapping,) = (op["mapping"] for op in _source_operations(spec, ROW_DEST)
                  if op["operation"] == "map_values")
    table = _read_tsv(tsv_path)
    counts = collections.Counter(zip(
        table["school_id"].to_pylist(),
        (mapping[c] for c in table["attendance_code"].to_pylist()),
    ))
    per_school: dict[str, dict[str, int]] = collections.defaultdict(dict)
    for (school, status), n in counts.items():
        per_school[school][status] = n
    template = _row_template(project_dir, spec["destinations"][SUMMARY_DEST]["template"])
    return sorted(template.render(school_id=school, **n).encode()
                  for school, n in per_school.items())


def check_summary(path: str, expected: list[bytes]) -> int:
    """The summary destination holds exactly ``expected``; returns its
    line count."""
    with open(path, "rb") as fh:
        lines = sorted(line for line in fh.read().split(b"\n") if line)
    if lines != expected:
        extra = sorted(set(lines) - set(expected))[:1]
        raise CheckFailed(
            f"{path}: {len(lines)} lines, want {len(expected)}; "
            f"unexpected e.g. {extra!r}"
        )
    return len(lines)


def check_render(path: str, rows: int, expected: set[bytes]) -> int:
    """Check one render destination file; returns its line count."""
    missing = set(expected)
    n_lines = 0
    tail = b""
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(16 << 20), b""):
            lines = (tail + chunk).split(b"\n")
            tail = lines.pop()
            n_lines += len(lines)
            missing.difference_update(lines)
    if tail:
        n_lines += 1
        missing.discard(tail)
    if n_lines != rows:
        raise CheckFailed(f"{path}: {n_lines} lines, want {rows}")
    if missing:
        raise CheckFailed(
            f"{path}: {len(missing)} of {len(expected)} sampled rows missing, "
            f"e.g. {next(iter(missing))[:200]!r}"
        )
    return n_lines
