"""Node references: one rule for every operation value.

A value that is a ``$sources.x`` / ``$transformations.y`` string (or a
list or dict of them) is both a DAG edge and, at run time, the node's
DataFrame. The registry-wide test below derives its cases from operator
signatures, so a new operator with a side-input DataFrame is covered
without an edit here, in the graph or in the executor.
"""

import http.server
import inspect
import json
import textwrap
import threading

import pytest
from pyspark.sql import DataFrame

from earthmover_spark.operators import OPERATIONS
from earthmover_spark.plans.config import ProjectConfig, compile_config
from earthmover_spark.plans.executor import Executor, run_project
from earthmover_spark.plans.graph import Graph, map_refs
from earthmover_spark.util import EarthmoverSparkError


def _dataframe_params() -> dict[str, dict[str, str]]:
    """{operation: {parameter: annotation}} for every DataFrame-typed
    parameter after the operator's input frame."""
    out: dict[str, dict[str, str]] = {}
    for op, fn in OPERATIONS.items():
        params = list(inspect.signature(fn).parameters.values())[1:]
        found = {
            p.name: str(p.annotation)
            for p in params
            if "DataFrame" in str(p.annotation)
        }
        if found:
            out[op] = found
    return out


def _ref_value(param: str, annotation: str):
    """The YAML shape a parameter's annotation asks for."""
    ref = f"$sources.{param}"
    if annotation.startswith("Iterable["):
        return [ref]
    if annotation.startswith("Mapping["):
        return {"k": ref}
    return ref


def test_map_refs_rule():
    def tag(ref):
        return f"<{ref}>"

    assert map_refs("$sources.a", tag) == "<$sources.a>"
    assert map_refs(["$sources.a", "x.com"], tag) == ["<$sources.a>", "x.com"]
    assert map_refs({"k": "$transformations.b"}, tag) == {"k": "<$transformations.b>"}
    # only whole values are references
    for v in ("$sources.a b", "see $sources.a", "$other.a", "$sources.", 3, None):
        assert map_refs(v, tag) == v


def test_every_dataframe_param_is_a_node_reference(spark, monkeypatch):
    """Every OPERATIONS entry with a DataFrame-typed parameter: the
    `$sources.<param>` value is a DAG edge, and the executor hands the
    operator a DataFrame for it."""
    cases = _dataframe_params()
    assert len(cases) >= 36, sorted(cases)
    side = {p for params in cases.values() for p in params}
    assert {"sources", "references", "vocab", "blocklist", "allowlist"} <= side

    transformations = {
        op: {
            "source": "$sources.main",
            "operations": [
                {"operation": op}
                | {p: _ref_value(p, ann) for p, ann in params.items()}
            ],
        }
        for op, params in cases.items()
    }
    project = ProjectConfig(
        sources={n: {"file": f"{n}.csv"} for n in side | {"main"}},
        transformations=transformations,
    )
    ex = Executor(spark, project)
    frame = spark.range(1)
    ex.data = {f"$sources.{n}": frame for n in side | {"main"}}

    seen: dict[str, dict] = {}
    for op in cases:
        def record(df, _op=op, **kwargs):
            seen[_op] = kwargs
            return df

        monkeypatch.setitem(OPERATIONS, op, record)

    for op, params in cases.items():
        node = f"$transformations.{op}"
        for p in params:
            assert f"$sources.{p}" in ex.graph.parents[node], (op, p)
        ex._eval_transformation(node, transformations[op])
        for p in params:
            got = seen[op][p]
            frames = got if isinstance(got, list) else (
                list(got.values()) if isinstance(got, dict) else [got]
            )
            assert frames and all(isinstance(f, DataFrame) for f in frames), (
                op, p, got,
            )


@pytest.mark.parametrize(
    "source,op,key",
    [
        ("$sources.docs", "resolve_duplicates", "pairs: $sources.typo"),
        ("$sources.docs", "tokenize_to_ids", "vocab: $sources.typo"),
        ("$source.docs", "resolve_duplicates", "pairs: $sources.docs"),
    ],
)
def test_misspelled_reference_fails_at_compile(tmp_path, source, op, key):
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent(f"""
        sources:
          docs:
            file: docs.csv
        transformations:
          resolved:
            source: {source}
            operations:
              - operation: {op}
                {key}
        destinations:
          out:
            source: $transformations.resolved
    """))
    with pytest.raises(EarthmoverSparkError, match="references unknown node"):
        Graph(compile_config(str(tmp_path / "earthmover.yaml")))


def _run(spark, d, yaml_text: str) -> list[dict]:
    (d / "earthmover.yaml").write_text(textwrap.dedent(yaml_text))
    results = run_project(spark, str(d / "earthmover.yaml"))
    lines = open(results["$destinations.out"]).read().splitlines()
    return [json.loads(ln) for ln in lines if ln]


@pytest.fixture
def two_tables(tmp_path):
    (tmp_path / "left.csv").write_text("id,name\n1,ann\n2,bob\n")
    (tmp_path / "right.csv").write_text("rid,city\n1,Oslo\n3,Rome\n")
    return tmp_path


def test_salted_join_side_input_from_yaml(spark, two_tables):
    rows = _run(spark, two_tables, """
        config:
          output_dir: ./out
        sources:
          left:
            file: left.csv
          right:
            file: right.csv
        transformations:
          joined:
            source: $sources.left
            operations:
              - operation: salted_join
                source: $sources.right
                left_key: id
                right_key: rid
                salt: 4
        destinations:
          out:
            source: $transformations.joined
            extension: jsonl
    """)
    assert [(r["name"], r["city"]) for r in rows] == [("ann", "Oslo")]


def test_bloom_filtered_join_side_input_from_yaml(spark, two_tables):
    (two_tables / "right.csv").write_text("id,city\n1,Oslo\n3,Rome\n")
    rows = _run(spark, two_tables, """
        config:
          output_dir: ./out
        sources:
          left:
            file: left.csv
          right:
            file: right.csv
        transformations:
          joined:
            source: $sources.left
            operations:
              - operation: bloom_filtered_join
                right: $sources.right
                on: id
                num_bits: 1024
        destinations:
          out:
            source: $transformations.joined
            extension: jsonl
    """)
    assert [(r["name"], r["city"]) for r in rows] == [("ann", "Oslo")]


def test_tokenize_to_ids_vocab_from_yaml(spark, tmp_path):
    (tmp_path / "docs.csv").write_text("doc_id,text\n1,red fox\n")
    (tmp_path / "vocab.csv").write_text("term,token_id\nfox,7\n")
    rows = _run(spark, tmp_path, """
        config:
          output_dir: ./out
        sources:
          docs:
            file: docs.csv
          vocab:
            file: vocab.csv
        transformations:
          tokens:
            source: $sources.docs
            operations:
              - operation: tokenize_to_ids
                vocab: $sources.vocab
        destinations:
          out:
            source: $transformations.tokens
            extension: jsonl
    """)
    got = {r["term"]: int(r["token_id"]) for r in rows}
    assert got == {"red": -1, "fox": 7}


def test_url_file_source_in_root_project(spark, tmp_path, monkeypatch):
    """A root-project `file:` URL is fetched, not joined onto the
    project dir. Served from a localhost HTTP server; the fetch lands in
    a private cache dir so other URL tests see an empty cache."""
    from earthmover_spark.sources import readers

    (tmp_path / "url_cache").mkdir()
    monkeypatch.setattr(readers, "_URL_CACHE", str(tmp_path / "url_cache"))
    served = tmp_path / "served"
    served.mkdir()
    (served / "left.csv").write_text("id,name\n1,ann\n2,bob\n")
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(served), **kw
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    project = tmp_path / "project"
    project.mkdir()
    try:
        rows = _run(spark, project, f"""
            config:
              output_dir: ./out
            sources:
              left:
                file: http://127.0.0.1:{srv.server_address[1]}/left.csv
            destinations:
              out:
                source: $sources.left
                extension: jsonl
        """)
    finally:
        srv.shutdown()
        srv.server_close()
    assert sorted((r["id"], r["name"]) for r in rows) == [("1", "ann"), ("2", "bob")]


def test_source_colspec_file_is_project_relative(spark, tmp_path):
    """A source's relative `colspec_file` resolves against the project
    dir, like its `file` (and like the input hashing already assumed)."""
    (tmp_path / "people.txt").write_text("01ann\n02bob\n")
    (tmp_path / "spec.csv").write_text("name,width\nid,2\nname,3\n")
    rows = _run(spark, tmp_path, """
        config:
          output_dir: ./out
        sources:
          people:
            file: people.txt
            type: fixedwidth
            colspec_file: spec.csv
        destinations:
          out:
            source: $sources.people
            extension: jsonl
    """)
    assert sorted((r["id"], r["name"]) for r in rows) == [("01", "ann"), ("02", "bob")]
