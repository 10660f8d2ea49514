"""Run-state tracking: hash every input and skip unchanged runs
(reference: earthmover/runs_file.py + earthmover/earthmover.py:282-341).

The reference md5-hashes the config, source files, destination
templates, map files and parameters, appends a row per run to a runs
CSV, and exits with code 99 when a compatible prior run matches — a
whole-run incremental skip. Same model here, driver-side only (no Spark
involvement): at 100 TB the thing you most want to skip is the run you
don't need at all.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import time

from earthmover_spark.plans.config import ProjectConfig, resolve_path

RUNS_FILE = ".earthmover_spark_runs.csv"
SKIP_EXIT_CODE = 99  # reference __main__ convention

_FIELDS = ["run_timestamp", "config_hash", "files_hash", "params_hash", "selector"]


def _md5_file(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as fp:
        for chunk in iter(lambda: fp.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _node_files(project: ProjectConfig) -> list[str]:
    """Every filesystem input a run depends on: source files, destination
    templates, map_files (reference earthmover.py:294-326)."""
    files: list[str] = []
    for node in project.nodes().values():
        cfg = node.config
        for key in ("file", "template", "colspec_file"):
            if cfg.get(key):
                files.append(cfg[key])
        for op in cfg.get("operations") or []:
            if op.get("map_file"):
                files.append(op["map_file"])
    return sorted({resolve_path(f, project.base_dir) for f in files})


def compute_hashes(
    project: ProjectConfig, params: dict | None, selector: str
) -> dict[str, str]:
    config_hash = hashlib.md5(
        json.dumps(
            {n: node.config for n, node in sorted(project.nodes().items())},
            sort_keys=True,
            default=str,
        ).encode()
    ).hexdigest()
    fh = hashlib.md5()
    for f in _node_files(project):
        fh.update(f.encode())
        if os.path.exists(f):
            fh.update(_md5_file(f).encode())
        else:
            fh.update(b"<missing>")
    params_hash = hashlib.md5(
        json.dumps(params or {}, sort_keys=True).encode()
    ).hexdigest()
    return {
        "config_hash": config_hash,
        "files_hash": fh.hexdigest(),
        "params_hash": params_hash,
        "selector": selector,
    }


class RunsFile:
    """Append-only CSV of run hashes next to the project config."""

    def __init__(self, project: ProjectConfig, path: str | None = None):
        # explicit path > config `state_file` (reference
        # docs/configuration.md:65, default ~/.earthmover.csv) > project-dir
        state_file = project.config.get("state_file")
        if path is None and state_file:
            path = resolve_path(os.path.expanduser(state_file), project.base_dir)
        self.path = path or os.path.join(project.base_dir, RUNS_FILE)

    def rows(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path, newline="") as fp:
            return list(csv.DictReader(fp))

    def find_matching_run(self, hashes: dict[str, str]) -> dict | None:
        """Latest prior run with identical input hashes and a selector
        at least as broad (exact-match selectors only, like the
        reference's compatibility check)."""
        for row in reversed(self.rows()):
            if all(row.get(k) == hashes[k] for k in
                   ("config_hash", "files_hash", "params_hash", "selector")):
                return row
        return None

    def write_run(self, hashes: dict[str, str]) -> None:
        exists = os.path.exists(self.path)
        with open(self.path, "a", newline="") as fp:
            writer = csv.DictWriter(fp, fieldnames=_FIELDS)
            if not exists:
                writer.writeheader()
            writer.writerow({"run_timestamp": f"{time.time():.3f}", **hashes})
