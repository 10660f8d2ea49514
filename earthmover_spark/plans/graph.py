"""Node DAG: edges from $-references, topological order, selector
subgraphs, dead-node pruning (reference: earthmover/graph.py +
earthmover/earthmover.py:225-249).

No graph library needed — plain adjacency dicts and Kahn's algorithm.
"""

from __future__ import annotations

import fnmatch
import re
from typing import Any, Callable

from earthmover_spark.plans.config import ProjectConfig
from earthmover_spark.util import EarthmoverSparkError

#: a node reference. A `sql` query embeds them in its text; everywhere
#: else a reference is a whole config value (see :func:`map_refs`).
NODE_REF = re.compile(r"\$(?:sources|transformations)\.\w+")


def map_refs(value: Any, fn: Callable[[str], Any]) -> Any:
    """The one rule for node references: a config value is a reference
    when it is a string that fully matches :data:`NODE_REF`, and so is
    each item of a list and each value of a dict. Returns ``value`` with
    every reference replaced by ``fn(ref)``. The graph collects edges
    with it and the executor swaps in DataFrames with it, so an
    operator with a side-input DataFrame needs no entry anywhere."""

    def one(v: Any) -> Any:
        return fn(v) if isinstance(v, str) and NODE_REF.fullmatch(v) else v

    if isinstance(value, list):
        return [one(v) for v in value]
    if isinstance(value, dict):
        return {k: one(v) for k, v in value.items()}
    return one(value)


def upstream_refs(cfg: dict) -> list[str]:
    """Nodes a node consumes: its own `source` / `sources` (references
    by position, so a typo there fails in :class:`Graph`), the
    references in every operation value, and those a `sql` query embeds
    in its text."""
    refs: list[str] = [cfg["source"]] if cfg.get("source") else []
    refs += cfg.get("sources") or []
    for op in cfg.get("operations") or []:
        for v in op.values():
            map_refs(v, refs.append)
        if op.get("operation") == "sql" and isinstance(op.get("query"), str):
            refs.extend(NODE_REF.findall(op["query"]))
    return refs


class Graph:
    def __init__(self, project: ProjectConfig):
        self.project = project
        self.nodes = project.nodes()
        self.edges: dict[str, list[str]] = {n: [] for n in self.nodes}  # node -> downstream
        self.parents: dict[str, list[str]] = {n: [] for n in self.nodes}
        for name, node in self.nodes.items():
            for ref in upstream_refs(node.config):
                if ref not in self.nodes:
                    raise EarthmoverSparkError(
                        f"{name} references unknown node {ref!r}"
                    )
                self.edges[ref].append(name)
                self.parents[name].append(ref)

    def topological_order(self, subset: set[str] | None = None) -> list[str]:
        names = subset if subset is not None else set(self.nodes)
        indeg = {n: sum(1 for p in self.parents[n] if p in names) for n in names}
        queue = sorted([n for n, d in indeg.items() if d == 0])
        order: list[str] = []
        while queue:
            n = queue.pop(0)
            order.append(n)
            for ch in sorted(self.edges[n]):
                if ch in names:
                    indeg[ch] -= 1
                    if indeg[ch] == 0:
                        queue.append(ch)
        if len(order) != len(names):
            raise EarthmoverSparkError("project graph contains a cycle")
        return order

    def select(self, selector: str = "*") -> set[str]:
        """Selector subgraph: nodes matching the wildcard pattern plus
        all ancestors and descendants (reference graph.py:67-105), then
        pruned to nodes that can reach a destination
        (reference earthmover.py:236-247)."""
        matched = {
            n
            for n in self.nodes
            if fnmatch.fnmatch(n, selector)
            or fnmatch.fnmatch(n.split(".", 1)[1], selector)
        }
        if not matched:
            raise EarthmoverSparkError(f"selector {selector!r} matches no nodes")
        closure = set(matched)
        # ancestors
        frontier = list(matched)
        while frontier:
            n = frontier.pop()
            for p in self.parents[n]:
                if p not in closure:
                    closure.add(p)
                    frontier.append(p)
        # descendants
        frontier = list(matched)
        while frontier:
            n = frontier.pop()
            for c in self.edges[n]:
                if c not in closure:
                    closure.add(c)
                    frontier.append(c)
        # prune nodes that do not reach a destination in the closure
        reaches: set[str] = {
            n for n in closure if self.nodes[n].kind == "destinations"
        }
        changed = True
        while changed:
            changed = False
            for n in closure - reaches:
                if any(c in reaches for c in self.edges[n]):
                    reaches.add(n)
                    changed = True
        return reaches if reaches else closure

    def consumer_counts(self, subset: set[str]) -> dict[str, int]:
        return {
            n: sum(1 for c in self.edges[n] if c in subset)
            for n in subset
        }

def to_dot(
    graph: "Graph",
    subset: set[str] | None = None,
    stats: dict[str, dict] | None = None,
) -> str:
    """Render the node DAG as Graphviz DOT text (the reference's
    --show-graph draws a PNG via pygraphviz, earthmover/__main__.py:94;
    DOT text needs no native dependency and diffs cleanly). Row counts
    from a results run are embedded in node labels when available."""
    names = sorted(subset if subset is not None else set(graph.nodes))
    shapes = {
        "sources": "ellipse",
        "transformations": "box",
        "destinations": "note",
    }
    lines = ["digraph earthmover_spark {", "  rankdir=LR;"]
    for name in names:
        node = graph.nodes[name]
        label = name
        rows = (stats or {}).get(name, {}).get("rows")
        if rows is not None:
            label += f"\\n{rows} rows"
        shape = shapes.get(node.kind, "box")
        lines.append(f'  "{name}" [shape={shape}, label="{label}"];')
    for name in names:
        for parent in graph.parents.get(name, []):
            if subset is None or parent in subset:
                lines.append(f'  "{parent}" -> "{name}";')
    lines.append("}")
    return "\n".join(lines) + "\n"


def render_png(
    graph: "Graph",
    path: str,
    subset: set[str] | None = None,
    stats: dict[str, dict] | None = None,
) -> str | None:
    """Render the DAG to a PNG like the reference's --show-graph
    (reference earthmover/graph.py:116-160, which uses matplotlib +
    pygraphviz). Tries the graphviz ``dot`` binary first, then
    networkx + matplotlib, then (since r12) the pure-stdlib raster
    tier (plans/rasterdot.py + the llm/png.py encoder) — a PNG is
    ALWAYS produced, so --show-graph works in minimal containers."""
    import shutil as _shutil
    import subprocess

    dot_src = to_dot(graph, subset, stats)
    exe = _shutil.which("dot")
    if exe:
        try:
            subprocess.run(
                [exe, "-Tpng", "-o", path], input=dot_src.encode(),
                check=True, capture_output=True,
            )
            return path
        except (OSError, subprocess.CalledProcessError):
            pass
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
        import networkx as nx
    except ImportError:
        from earthmover_spark.plans.rasterdot import render_graph_png

        names = sorted(subset if subset is not None else set(graph.nodes))
        labels = {}
        for name in names:
            rows = (stats or {}).get(name, {}).get("rows")
            labels[name] = (
                f"{name}\n{rows} rows" if rows is not None else name
            )
        return render_graph_png(
            {n: graph.nodes[n].kind for n in names},
            {
                n: [p for p in graph.parents.get(n, []) if p in names]
                for n in names
            },
            path,
            labels=labels,
        )
    names = sorted(subset if subset is not None else set(graph.nodes))
    g = nx.DiGraph()
    layer_of = {"sources": 0, "transformations": 1, "destinations": 2}
    colors = {"sources": "#8bd3c7", "transformations": "#ffee93", "destinations": "#f4a5ae"}
    for name in names:
        node = graph.nodes[name]
        label = name
        rows = (stats or {}).get(name, {}).get("rows")
        if rows is not None:
            label += f"\n{rows} rows"
        g.add_node(
            name, layer=layer_of.get(node.kind, 1),
            color=colors.get(node.kind, "#cccccc"), label=label,
        )
    for name in names:
        for parent in graph.parents.get(name, []):
            if subset is None or parent in subset:
                g.add_edge(parent, name)
    pos = nx.multipartite_layout(g, subset_key="layer")
    fig, ax = plt.subplots(figsize=(max(8, len(names)), max(6, len(names) // 2)))
    nx.draw_networkx(
        g, pos, ax=ax, with_labels=True,
        labels={n: g.nodes[n]["label"] for n in g},
        node_color=[g.nodes[n]["color"] for n in g],
        node_size=2200, font_size=7, arrows=True,
    )
    ax.axis("off")
    fig.savefig(path, dpi=120, bbox_inches="tight")
    plt.close(fig)
    return path
