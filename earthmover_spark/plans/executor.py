"""DAG executor: topological node evaluation -> lazy DataFrame per node
-> destination writes (reference: earthmover/earthmover.py:251-279).

Improvements over the reference noted in SURVEY.md §4:
- a node feeding multiple downstream consumers is ``.persist()``ed
  (the reference recomputes it per destination);
- everything stays lazy until a destination writes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from earthmover_spark.destinations import write_destination
from earthmover_spark.functions.jinja_compute import template_column
from earthmover_spark.operators import OPERATIONS
from earthmover_spark.plans.config import ProjectConfig, compile_config, resolve_path
from earthmover_spark.plans.graph import NODE_REF, Graph, map_refs
from earthmover_spark.sources import read_source
from earthmover_spark.util import EarthmoverSparkError

from pyspark.sql import functions as F


class Executor:
    def __init__(self, spark: SparkSession, project: ProjectConfig):
        self.spark = spark
        self.project = project
        self.graph = Graph(project)
        self.data: dict[str, DataFrame] = {}
        self.results: dict[str, str] = {}

    # -- node evaluation ----------------------------------------------------

    def _resolve(self, ref: str) -> DataFrame:
        if ref not in self.data:
            raise EarthmoverSparkError(f"reference {ref!r} not yet evaluated")
        return self.data[ref]

    def _eval_source(self, name: str, cfg: dict) -> DataFrame:
        cfg = dict(cfg)
        if cfg.get("stream"):
            # `stream: True` — engine extension (the reference is batch-
            # only): the source becomes a Structured Streaming file
            # source, and with the destination's checkpoint each run
            # processes only files that arrived since the last run —
            # per-file incremental pipelines instead of the reference's
            # all-or-nothing run skip.
            from earthmover_spark.streaming import read_stream_source

            file = cfg.get("file")
            if not file:
                raise EarthmoverSparkError(f"{name}: streaming source needs `file`")
            fmt = cfg.get("type") or "parquet"
            return read_stream_source(
                self.spark, resolve_path(file, self.project.base_dir), format=fmt
            )
        connection = cfg.get("connection")
        if connection:
            if connection.startswith("ftp://"):
                from earthmover_spark.sources import read_ftp

                return read_ftp(self.spark, connection)
            from earthmover_spark.sources import read_sql

            if not cfg.get("query"):
                raise EarthmoverSparkError(f"{name}: SQL source needs `query`")
            return read_sql(self.spark, connection, cfg["query"])
        for key in ("file", "colspec_file"):
            if cfg.get(key):
                cfg[key] = resolve_path(cfg[key], self.project.base_dir)
        file = cfg.pop("file", None)
        kwargs = {
            k: v
            for k, v in cfg.items()
            if k
            in (
                "type", "columns", "optional", "optional_fields", "encoding",
                "header_rows", "fill_sparse_headers", "sheet", "match",
                "xpath", "orientation", "object_type", "colspecs",
                "colspec_file", "colspec_headers", "sep",
                "record_types", "strip_http", "rename_cols",
                "merge_schema",
            )
        }
        return read_source(self.spark, file, **kwargs)

    def _sql_operation(self, name: str, query: str) -> DataFrame:
        """dbt-style SQL transformation (engine extension): the query
        references upstream nodes as ``$sources.x`` / ``$transformations.y``;
        each is registered as a temp view and the reference rewritten, so
        the full Spark SQL surface (CTEs, window functions, lateral
        views) composes with YAML operations — Catalyst optimizes across
        the boundary since views are just plans."""
        def _sub(m) -> str:
            ref = m.group(0)
            df = self._resolve(ref)
            view = ref.replace("$", "em_").replace(".", "__")
            df.createOrReplaceTempView(view)
            return view

        return self.spark.sql(NODE_REF.sub(_sub, query))

    def _eval_transformation(self, name: str, cfg: dict) -> DataFrame:
        df = self._resolve(cfg["source"]) if cfg.get("source") else None
        for op_cfg in cfg["operations"]:
            # YAML 1.1 reads a bare `on:` key as boolean True — map it
            # back (join_stream / enrich_stream use an `on` parameter)
            op_cfg = {("on" if k is True else k): v for k, v in op_cfg.items()}
            op_name = op_cfg.pop("operation")
            if op_name == "sql":
                df = self._sql_operation(name, op_cfg["query"])
                continue
            fn = OPERATIONS.get(op_name)
            if fn is None:
                raise EarthmoverSparkError(f"{name}: unknown operation {op_name!r}")
            repartition = op_cfg.pop("repartition", None)
            for key in ("map_file", "colspec_file"):
                if op_cfg.get(key):
                    op_cfg[key] = resolve_path(op_cfg[key], self.project.base_dir)
            # every node reference among the values becomes its DataFrame
            kwargs = {k: map_refs(v, self._resolve) for k, v in op_cfg.items()}
            if df is None and kwargs.get("sources"):
                # source-less transformation: the first op-level source
                # is the left frame, like the reference's multi-source fold
                df, kwargs["sources"] = kwargs["sources"][0], kwargs["sources"][1:]
            if op_name in ("add_columns", "modify_columns"):
                kwargs.setdefault("macros", self.project.macros)
            if df is None:
                raise EarthmoverSparkError(f"{name}: no upstream data for {op_name}")
            df = fn(df, **kwargs)
            if repartition:
                df = df.repartition(int(repartition))
        return df

    def _check_expectations(self, name: str, cfg: dict, df: DataFrame) -> None:
        """`expect` row predicates + `require_rows`
        (reference node.py:165-194, 74-78)."""
        require = cfg.get("require_rows")
        if require:
            n = df.count()
            want = 1 if require is True else int(require)
            if n < want:
                raise EarthmoverSparkError(
                    f"{name}: require_rows {want} not met (got {n})"
                )
        for exp in cfg.get("expect") or []:
            tmpl = exp if "{{" in str(exp) or "{%" in str(exp) else "{{" + str(exp) + "}}"
            rendered = template_column(
                tmpl, df.columns, macros=self.project.macros,
                schema=df.schema,
            )
            failing = df.filter(~(rendered == F.lit("True"))).count()
            if failing:
                raise EarthmoverSparkError(
                    f"{name}: expectation {exp!r} failed for {failing} rows"
                )

    # -- run ----------------------------------------------------------------

    def run(
        self,
        selector: str = "*",
        output_dir: str | None = None,
        results_file: str | None = None,
        show_graph: bool = False,
    ) -> dict[str, str]:
        import json
        import time

        subset = self.graph.select(selector)
        order = self.graph.topological_order(subset)
        consumers = self.graph.consumer_counts(subset)
        out_dir = output_dir or os.path.join(
            self.project.base_dir, self.project.output_dir
        )

        node_stats: dict[str, dict] = {}
        t_start = time.time()
        for name in order:
            t0 = time.time()
            node = self.graph.nodes[name]
            if node.kind == "sources":
                df = self._eval_source(name, node.config)
            elif node.kind == "transformations":
                df = self._eval_transformation(name, node.config)
            else:
                self._write_destination(name, node.config, out_dir)
                node_stats[name] = {"seconds": round(time.time() - t0, 3)}
                if self._show_progress(node.config):
                    print(f"-- {name}: written in {node_stats[name]['seconds']}s")
                continue
            if not df.isStreaming:
                self._check_expectations(name, node.config, df)
                if node.config.get("debug"):
                    print(f"-- {name}: {len(df.columns)} columns {df.columns}")
                    df.show(5, truncate=False)
                if node.config.get("repartition"):
                    df = df.repartition(int(node.config["repartition"]))
                if consumers.get(name, 0) > 1:
                    df = df.persist()
            self.data[name] = df
            node_stats[name] = {"seconds": round(time.time() - t0, 3)}

        if results_file:
            # row counts force one count per node — opt-in, like the
            # reference's --results-file (earthmover.py:409-419)
            for name, df in self.data.items():
                if name in node_stats and not df.isStreaming:
                    node_stats[name]["rows"] = df.count()
            with open(results_file, "w") as fh:
                json.dump(
                    {
                        "total_seconds": round(time.time() - t_start, 3),
                        "nodes": node_stats,
                        "destinations": self.results,
                    },
                    fh,
                    indent=2,
                )
        if show_graph:
            # DOT DAG next to the outputs (reference -g/--show-graph,
            # earthmover/__main__.py:94); row counts included when a
            # results run computed them. A PNG render is attempted too
            # (reference graph.py:116-160) when a renderer exists.
            from earthmover_spark.plans.graph import render_png, to_dot

            os.makedirs(out_dir, exist_ok=True)
            graph_path = os.path.join(out_dir, "graph.dot")
            with open(graph_path, "w") as fh:
                fh.write(to_dot(self.graph, subset, node_stats))
            self.results["__graph__"] = graph_path
            png = render_png(
                self.graph, os.path.join(out_dir, "graph.png"), subset, node_stats
            )
            if png:
                self.results["__graph_png__"] = png
        return self.results

    def _write_streaming(
        self, name: str, cfg: dict, df: DataFrame, out_dir: str
    ) -> str:
        """Streaming destination: availableNow trigger drains whatever
        is new, the checkpoint remembers processed files, and the query
        stops — batch ergonomics, per-file incremental semantics.
        Text destinations render through the same ``render_lines`` path
        (template exprs and the Jinja pandas_udf both compose onto
        streaming frames); columnar formats write part files."""
        from earthmover_spark.destinations.file_destination import render_lines
        from earthmover_spark.streaming import write_stream_destination

        short = name.split(".", 1)[1]
        fmt = cfg.get("format")
        checkpoint = os.path.join(out_dir, ".checkpoints", short)
        if fmt in ("parquet", "orc", "csv"):
            out_path = os.path.join(out_dir, f"{short}.{fmt}.d")
        else:
            template_file = cfg.get("template")
            template = None
            if template_file:
                with open(resolve_path(template_file, self.project.base_dir)) as fh:
                    template = fh.read()
            df = render_lines(
                df, template, macros=self.project.macros,
                loader_dir=self.project.base_dir,
                linearize=cfg.get("linearize", True),
            )
            fmt = "text"
            out_path = os.path.join(
                out_dir, f"{short}.{cfg.get('extension', 'jsonl')}.d"
            )
        os.makedirs(out_dir, exist_ok=True)
        output_mode = cfg.get("output_mode", "append")
        if output_mode != "append":
            # file sinks only accept append; update/complete-mode plans
            # (applyInPandasWithState, non-watermarked aggs) route
            # through foreachBatch, appending each micro-batch's rows.
            sink_fmt = fmt

            def _sink(batch_df: DataFrame, _batch_id: int) -> None:
                batch_df.write.mode("append").format(sink_fmt).save(out_path)

            q = (
                df.writeStream.outputMode(output_mode)
                .option("checkpointLocation", checkpoint)
                .foreachBatch(_sink)
                .trigger(availableNow=True)
                .start()
            )
        else:
            q = write_stream_destination(
                df, path=out_path, format=fmt, checkpoint=checkpoint,
                trigger_once=True,
            )
        q.awaitTermination()
        return out_path

    def _show_progress(self, cfg: dict) -> bool:
        """Node-level ``show_progress`` with a config-level default —
        reference node.py:59 (ProgressBar per node). The Spark mapping
        is job-group tagging (every node's stages are attributed to it
        in the Spark UI) plus an opt-in per-node timing line here."""
        return bool(
            cfg.get("show_progress", self.project.config.get("show_progress"))
        )

    def _write_destination(self, name: str, cfg: dict, out_dir: str) -> None:
        # Attribute all jobs this destination triggers to the node name
        # (Spark UI: job group = node), the engine's ProgressBar analog.
        sc = self.spark.sparkContext
        sc.setJobGroup(name, f"earthmover_spark destination {name}")
        try:
            self._write_destination_inner(name, cfg, out_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def _write_destination_inner(self, name: str, cfg: dict, out_dir: str) -> None:
        df = self._resolve(cfg["source"])
        if df.isStreaming:
            self.results[name] = self._write_streaming(name, cfg, df, out_dir)
            return
        if cfg.get("format") in ("parquet", "orc", "csv"):
            from earthmover_spark.destinations.file_destination import write_columnar

            self.results[name] = write_columnar(
                df,
                name.split(".", 1)[1],
                out_dir,
                format=cfg["format"],
                partition_by=cfg.get("partition_by"),
                compression=cfg.get("compression"),
                target_file_mb=cfg.get("target_file_mb"),
            )
            return
        template_file = cfg.get("template")
        if template_file:
            template_file = resolve_path(template_file, self.project.base_dir)
        short = name.split(".", 1)[1]
        path = write_destination(
            df,
            short,
            out_dir,
            template_file=template_file,
            extension=cfg.get("extension", "jsonl"),
            macros=self.project.macros,
            loader_dir=self.project.base_dir,
            linearize=cfg.get("linearize", True),
            header=cfg.get("header"),
            footer=cfg.get("footer"),
            mode=cfg.get("mode", "file"),
        )
        self.results[name] = path


def explain_project(
    spark: SparkSession,
    config_path: str,
    params: dict[str, str] | None = None,
    selector: str = "*",
    mode: str = "formatted",
) -> dict[str, str]:
    """Compile a YAML project and return {destination: physical plan}
    WITHOUT writing anything — the plan-inspection surface for tuning:
    check that filters pushed down, joins broadcast, and nothing fell
    back to a Python UDF before paying for a full run. Streaming
    destinations fall back to the analyzed logical plan (their physical
    plan exists only once a query starts)."""
    project = compile_config(config_path, params)
    ex = Executor(spark, project)
    subset = ex.graph.select(selector)
    plans: dict[str, str] = {}
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    for name in ex.graph.topological_order(subset):
        node = ex.graph.nodes[name]
        if node.kind == "sources":
            ex.data[name] = ex._eval_source(name, node.config)
        elif node.kind == "transformations":
            ex.data[name] = ex._eval_transformation(name, node.config)
        else:
            df = ex._resolve(node.config["source"])
            try:
                plans[name] = df._jdf.queryExecution().explainString(jvm_mode)
            except Exception:
                plans[name] = df._jdf.queryExecution().analyzed().toString()
    return plans


def run_project(
    spark: SparkSession,
    config_path: str,
    params: dict[str, str] | None = None,
    overrides: dict[str, object] | None = None,
    selector: str = "*",
    output_dir: str | None = None,
    skip_if_unchanged: bool = False,
    runs_file: str | None = None,
    results_file: str | None = None,
    show_graph: bool = False,
    force: bool = False,
    skip_hashing: bool = False,
) -> dict[str, str]:
    """Compile + execute a YAML project; returns {destination: path}.

    Run-state semantics match the reference (earthmover.py:282-341 +
    __main__.py:82-89): when the config declares a ``state_file`` (or
    ``skip_if_unchanged``/``runs_file`` opt in), input hashes (config,
    source files, templates, map files, params) are computed, an
    unchanged run is skipped entirely — returning ``{"__skipped__":
    ...}``, exit code 99 at the CLI — and every executed run is appended
    to the runs file. ``force`` executes regardless but still logs the
    run; ``skip_hashing`` disables hashing AND the run-log write."""
    project = compile_config(config_path, params, overrides)
    # config-level toggles (reference docs/configuration.md:39-74)
    show_graph = show_graph or bool(project.config.get("show_graph"))
    log_level = project.config.get("log_level")
    if log_level:
        spark.sparkContext.setLogLevel(
            {"WARNING": "WARN"}.get(str(log_level).upper(), str(log_level).upper())
        )
    tracker = None
    hashing = not skip_hashing and (
        skip_if_unchanged
        or runs_file is not None
        or bool(project.config.get("state_file"))
    )
    if hashing:
        from earthmover_spark.plans.runs import RunsFile, compute_hashes

        hashes = compute_hashes(project, params, selector)
        tracker = RunsFile(project, runs_file)
        if not force:
            prior = tracker.find_matching_run(hashes)
            if prior:
                return {
                    "__skipped__": f"inputs unchanged since run {prior['run_timestamp']}"
                }
    results = Executor(spark, project).run(
        selector, output_dir, results_file, show_graph=show_graph
    )
    if tracker is not None:
        tracker.write_run(hashes)
    return results


def run_golden_test(
    spark: SparkSession,
    config_path: str,
    params: dict[str, str] | None = None,
    expected_dir: str | None = None,
) -> dict[str, str]:
    """Golden-file test harness (reference `earthmover -t`,
    earthmover/earthmover.py:422-450): run the project into a temp
    output dir, then compare each destination's output to
    ``expected/<filename>`` as SORTED lines — order-insensitive, since a
    distributed engine may emit rows in any order. Returns
    {output_name: failure message} (empty = pass)."""
    import tempfile

    project = compile_config(config_path, params)
    expected_dir = expected_dir or os.path.join(project.base_dir, "expected")
    if not os.path.isdir(expected_dir):
        raise EarthmoverSparkError(f"expected dir not found: {expected_dir!r}")
    out_dir = tempfile.mkdtemp(prefix="em_test_out_")
    results = Executor(spark, project).run("*", out_dir)
    failures: dict[str, str] = {}
    for dest, path in results.items():
        fname = os.path.basename(path)
        want_path = os.path.join(expected_dir, fname)
        if not os.path.exists(want_path):
            failures[fname] = "no expected file"
            continue
        got = sorted(ln for ln in open(path).read().splitlines() if ln)
        want = sorted(ln for ln in open(want_path).read().splitlines() if ln)
        if got != want:
            diff = next(
                (f"first difference: {g!r} != {w!r}"
                 for g, w in zip(got, want) if g != w),
                f"line counts differ: {len(got)} vs {len(want)}",
            )
            failures[fname] = diff
    return failures
