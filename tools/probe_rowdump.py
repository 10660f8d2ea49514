"""r13 probe: native loop-unrolled __row_data__ dict-dump render vs
the already-batched Arrow-UDF fallback, on a 1M-row parquet scan.

This is the em_pipeline-style destination workload the r13 loop
lowering accelerates directly: every reference config that renders
rows through the stock verbatim.jsont template used to pay the Python
crossing per row; now it's a per-column concat inside whole-stage
codegen. The probe asserts byte parity on a 2k sample before timing.

Usage: python tools/probe_rowdump.py [n_rows]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000

TMPL = (
    "{ {% for key in __row_data__.keys() -%} "
    '{% if key != "__row_data__" -%} '
    "{% if not loop.first %},{% endif -%} "
    '"{{key}}": "{{__row_data__[key]|trim}}" '
    "{%- endif %} {% endfor -%} }"
)


def main() -> None:
    from pyspark.sql import functions as F

    from earthmover_spark import get_spark
    from earthmover_spark.functions.jinja_compute import (
        jinja_udf_column,
        lower_template,
    )
    from earthmover_spark.util import stringify

    spark = get_spark("rowdump-probe")
    path = f"/tmp/rowdump_probe_{N}.parquet"
    spark.range(N).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("  name-"), (F.col("id") % 997).cast("string"),
                 F.lit(" \t")).alias("name"),
        F.concat(F.lit("src"), (F.col("id") % 13).cast("string")).alias(
            "source"
        ),
        (F.col("id") % 5000).cast("string").alias("bucket"),
    ).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    cols = df.columns
    casted = stringify(df)

    native = lower_template(
        TMPL, cols, None, casted.schema, self_row_data=True
    )
    assert native is not None, "template must lower"
    udf = jinja_udf_column(TMPL, cols, self_row_data=True)

    # byte parity on a 2k sample before timing anything
    sample = casted.filter(F.col("doc_id").cast("long") % 500 == 0)
    bad = sample.select(
        native.alias("n"), udf.alias("u")
    ).filter(F.col("n") != F.col("u"))
    assert bad.count() == 0, bad.limit(3).collect()
    print(f"parity OK on {sample.count()} sampled rows")

    def t(col, label):
        # warm once (plan compile / scan cache effects identical for
        # both sides), then time the second pass
        casted.select(col.alias("line")).selectExpr(
            "sum(length(line)) as s"
        ).collect()
        t0 = time.time()
        out = casted.select(col.alias("line")).selectExpr(
            "sum(length(line)) as s"
        ).collect()
        dt = time.time() - t0
        print(f"{label}: {dt:.2f} s  (checksum {out[0].s})")
        return dt

    tn = t(native, "native loop-unrolled render")
    tu = t(udf, "Arrow-UDF batched render")
    print(f"speedup: {tu / tn:.1f}x over {N} rows")
    spark.stop()


if __name__ == "__main__":
    main()
