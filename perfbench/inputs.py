"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (kind, size, seed): the same seed gives
byte-identical files. Files are cached per seed under the benchmark's cache
directory, and generating them is never part of a timed region.

- ``attendance_tsv``: the reference's ``big_earthmover`` shape, an
  attendance-event table as a splittable, headered TSV (one Spark split per
  32 MB, so the scan is wide without any repartitioning).
"""

from __future__ import annotations

import datetime
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

ATTENDANCE_CODES = np.array(["P", "A", "T", "E"], dtype=object)
ATTENDANCE_CODE_P = [0.85, 0.07, 0.05, 0.03]
COURSES = np.array(
    [f"{subj}-{num}" for subj in ("MATH", "ELA", "SCI", "HIST", "ART", "PE")
     for num in (101, 102, 201, 202, 301)],
    dtype=object,
)
_FIRST_DAY = datetime.date(2024, 8, 15)
DATES = np.array(
    [(_FIRST_DAY + datetime.timedelta(days=d)).isoformat() for d in range(280)],
    dtype=object,
)

def attendance_tsv(path: str, rows: int, seed: int) -> None:
    """Write ``rows`` attendance events as a headered TSV."""
    rng = np.random.default_rng(seed)
    table = pa.table({
        "student_id": rng.integers(100000, 1000000, rows),
        "school_id": rng.integers(1, 41, rows),
        "event_date": DATES[rng.integers(0, len(DATES), rows)],
        "period": rng.integers(1, 9, rows),
        "attendance_code": ATTENDANCE_CODES[
            rng.choice(len(ATTENDANCE_CODES), rows, p=ATTENDANCE_CODE_P)
        ],
        "minutes": rng.integers(0, 91, rows),
        "course_code": COURSES[rng.integers(0, len(COURSES), rows)],
    })
    # pyarrow quotes header names whatever the quoting style, so the
    # header line is written by hand
    with open(path, "wb") as fh:
        fh.write(("\t".join(table.column_names) + "\n").encode())
        pacsv.write_csv(
            table, fh,
            pacsv.WriteOptions(
                include_header=False, delimiter="\t", quoting_style="none"
            ),
        )


def cached(cache_root: str, kind: str, size: int, seed: int) -> str:
    """Path of the ``kind`` input of ``size`` rows for ``seed``, generated
    on first use. Inputs of the same kind for other seeds or sizes are
    deleted, so the cache holds one input per kind."""
    writers = {
        "attendance": (attendance_tsv, "attendance.tsv"),
    }
    write, filename = writers[kind]
    key = f"{kind}-{size}-{seed}"
    os.makedirs(cache_root, exist_ok=True)
    for entry in os.listdir(cache_root):
        if entry.startswith(f"{kind}-") and entry != key:
            shutil.rmtree(os.path.join(cache_root, entry), ignore_errors=True)
    path = os.path.join(cache_root, key, filename)
    if not os.path.exists(path):
        tmp = os.path.join(cache_root, key + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        write(os.path.join(tmp, filename), size, seed)
        shutil.rmtree(os.path.join(cache_root, key), ignore_errors=True)
        os.rename(tmp, os.path.join(cache_root, key))
    return path
