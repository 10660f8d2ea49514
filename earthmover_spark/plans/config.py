"""YAML project compiler (reference: earthmover/earthmover.py:158-198 +
earthmover/yaml_parser.py).

Compile steps, same pipeline as the reference:
1. ``${VAR}`` parameter substitution (params dict > environment)
   (reference yaml_parser.py:219-234)
2. compile-time Jinja render of the whole YAML (macros available)
   (reference yaml_parser.py:126-129)
3. ``yaml.safe_load`` into the project IR
4. node validation: sources / transformations / destinations

Packages (project composition, reference earthmover/earthmover.py:472-500
+ earthmover/package.py): a package is another project directory with its
own earthmover.yaml; packages merge post-order (deepest first), the
installing project's nodes win on name collisions, and package-relative
file paths are rewritten to absolute so the merged project runs from the
parent's base_dir. Selectors and dead-node pruning live in the graph
layer.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import yaml

from earthmover_spark.util import EarthmoverSparkError

_PARAM_RE = re.compile(r"\$\{(\w+)\}")


@dataclass
class NodeConfig:
    name: str  # full name, e.g. "$sources.orders"
    kind: str  # sources | transformations | destinations
    config: dict

    @property
    def short_name(self) -> str:
        return self.name.split(".", 1)[1]


@dataclass
class ProjectConfig:
    config: dict = field(default_factory=dict)
    sources: dict[str, dict] = field(default_factory=dict)
    transformations: dict[str, dict] = field(default_factory=dict)
    destinations: dict[str, dict] = field(default_factory=dict)
    base_dir: str = "."

    @property
    def macros(self) -> str:
        return self.config.get("macros", "") or ""

    @property
    def output_dir(self) -> str:
        return self.config.get("output_dir", "./output")

    def nodes(self) -> dict[str, NodeConfig]:
        out: dict[str, NodeConfig] = {}
        for kind, group in (
            ("sources", self.sources),
            ("transformations", self.transformations),
            ("destinations", self.destinations),
        ):
            for name, cfg in group.items():
                full = f"${kind}.{name}"
                out[full] = NodeConfig(full, kind, cfg)
        return out


def substitute_params(text: str, params: dict[str, str] | None = None) -> str:
    """``${VAR}`` substitution: explicit params win over environment
    variables; unknown vars are left intact (so compile-time Jinja can
    still see them)."""
    env = dict(os.environ)
    merged = {**env, **(params or {})}

    def repl(m: re.Match) -> str:
        return str(merged.get(m.group(1), m.group(0)))

    return _PARAM_RE.sub(repl, text)


def render_compile_time_jinja(
    text: str, macros: str = "", base_dir: str | None = None
) -> str:
    """Render the YAML itself through Jinja (loops generating repeated
    nodes, conditional config — reference yaml_parser.py:126-129).
    ``base_dir`` enables {% include %}/{% from %} of files next to the
    config (reference 09_edfi imports_test.jinja)."""
    if "{{" not in text and "{%" not in text:
        return text
    import jinja2

    loader = jinja2.FileSystemLoader(base_dir) if base_dir else None
    env = jinja2.Environment(undefined=jinja2.StrictUndefined, loader=loader)
    return env.from_string(macros + text).render()


def compile_config(
    path_or_text: str,
    params: dict[str, str] | None = None,
    overrides: dict[str, object] | None = None,
) -> ProjectConfig:
    """Compile a YAML project file (or literal YAML text) into the IR.

    ``overrides`` maps dotted paths to replacement values — the
    reference's ``--set config.tmp_dir /tmp`` CLI flag
    (earthmover/__main__.py:106-110). Applied after parse, before
    package merge and validation."""
    if "\n" not in path_or_text and os.path.exists(path_or_text):
        base_dir = os.path.dirname(os.path.abspath(path_or_text))
        with open(path_or_text) as fh:
            text = fh.read()
    else:
        base_dir = "."
        text = path_or_text

    # `config.parameter_defaults` fill in ${VAR}s the caller didn't pass
    # (reference earthmover.py:133-135: defaults beat the environment,
    # explicit params beat defaults). Fished out of a pre-parse of the
    # raw text so they apply to the substitution pass itself.
    try:
        pre0 = yaml.safe_load(render_compile_time_jinja_safe(text, base_dir)) or {}
    except yaml.YAMLError:
        pre0 = {}
    defaults = (
        (pre0.get("config") or {}).get("parameter_defaults") or {}
        if isinstance(pre0, dict)
        else {}
    )
    if defaults:
        params = {**{k: str(v) for k, v in defaults.items()}, **(params or {})}

    text = substitute_params(text, params)
    # pull macros out before the compile-time render so they're usable in it
    try:
        pre = yaml.safe_load(render_compile_time_jinja_safe(text, base_dir)) or {}
    except yaml.YAMLError:
        pre = {}
    macros = ((pre.get("config") or {}).get("macros") or "") if isinstance(pre, dict) else ""
    text = render_compile_time_jinja(text, macros, base_dir)
    raw = yaml.safe_load(text) or {}
    for path, value in (overrides or {}).items():
        node = raw
        keys = path.split(".")
        for k in keys[:-1]:
            node = node.setdefault(k, {})
        node[keys[-1]] = value

    project = ProjectConfig(
        config=raw.get("config") or {},
        sources=raw.get("sources") or {},
        transformations=raw.get("transformations") or {},
        destinations=raw.get("destinations") or {},
        base_dir=base_dir,
    )
    for pkg_name, pkg_cfg in (raw.get("packages") or {}).items():
        _merge_package(project, pkg_name, pkg_cfg, params)
    _validate(project)
    return project


_PATH_KEYS = ("file", "template", "colspec_file", "map_file")


def resolve_path(path: str, base_dir: str) -> str:
    """A config path as the engine opens it: a relative path joins
    ``base_dir``; absolute paths and URLs (``scheme://``) pass as is."""
    if os.path.isabs(path) or "://" in path:
        return path
    return os.path.join(base_dir, path)


def _absolutize_paths(cfg: dict, base_dir: str) -> dict:
    """Rewrite a node's relative file paths against its package dir so
    merged nodes keep working from the parent project's base_dir."""
    out = dict(cfg)
    for key in _PATH_KEYS:
        if isinstance(out.get(key), str):
            out[key] = resolve_path(out[key], base_dir)
    if out.get("operations"):
        out["operations"] = [
            _absolutize_paths(op, base_dir) if isinstance(op, dict) else op
            for op in out["operations"]
        ]
    return out


def _install_git_package(
    base_dir: str,
    pkg_name: str,
    git_url: str,
    branch: str | None = None,
    subdirectory: str | None = None,
    timeout: int = 60,
) -> str:
    """Clone a git package into ``<project>/packages/<name>`` (the
    reference's `earthmover deps` behavior — package.py:173-213: system
    git client, optional branch and subdirectory, timeout so credential
    prompts can't hang automated runs). A fresh clone replaces any
    prior install. Returns the installed package directory."""
    import shutil
    import subprocess
    import tempfile

    packages_dir = os.path.join(base_dir, "packages")
    pkg_path = os.path.join(packages_dir, pkg_name)
    os.makedirs(packages_dir, exist_ok=True)
    if os.path.lexists(pkg_path):
        shutil.rmtree(pkg_path, ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix="em_git_", dir=packages_dir)
    try:
        cmd = ["git", "clone", "--depth", "1"]
        if branch:
            cmd += ["-b", branch]
        cmd += [git_url, "."]
        proc = subprocess.run(
            cmd, cwd=tmp, timeout=timeout, capture_output=True, text=True
        )
        if proc.returncode != 0:
            raise EarthmoverSparkError(
                f"package {pkg_name!r}: git clone failed: {proc.stderr.strip()}"
            )
        src = os.path.join(tmp, subdirectory) if subdirectory else tmp
        if not os.path.isdir(src):
            raise EarthmoverSparkError(
                f"package {pkg_name!r}: subdirectory {subdirectory!r} not in repo"
            )
        shutil.copytree(src, pkg_path, ignore=shutil.ignore_patterns(".git"))
    except subprocess.TimeoutExpired:
        raise EarthmoverSparkError(
            f"package {pkg_name!r}: git clone timed out for {git_url!r} — "
            "are git credentials configured?"
        ) from None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return pkg_path


def _merge_package(
    project: ProjectConfig,
    pkg_name: str,
    pkg_cfg: dict,
    params: dict[str, str] | None,
) -> None:
    """Merge one package (recursively compiled, so nested packages land
    first) under the project; the installing project wins collisions."""
    local = (pkg_cfg or {}).get("local")
    git_url = (pkg_cfg or {}).get("git")
    if git_url:
        local = _install_git_package(
            project.base_dir,
            pkg_name,
            git_url,
            branch=(pkg_cfg or {}).get("branch"),
            subdirectory=(pkg_cfg or {}).get("subdirectory"),
        )
    if not local:
        raise EarthmoverSparkError(
            f"package {pkg_name!r}: needs `local: <dir>` or `git: <url>`"
        )
    local = resolve_path(local, project.base_dir)
    pkg_yaml = local if local.endswith((".yaml", ".yml")) else os.path.join(
        local, "earthmover.yaml"
    )
    if not os.path.exists(pkg_yaml):
        raise EarthmoverSparkError(
            f"package {pkg_name!r}: no earthmover.yaml at {local!r}"
        )
    pkg = compile_config(pkg_yaml, params)
    for kind in ("sources", "transformations", "destinations"):
        mine = getattr(project, kind)
        for name, cfg in getattr(pkg, kind).items():
            if name not in mine:  # installing project wins
                mine[name] = _absolutize_paths(cfg, pkg.base_dir)
    # package macros append after (project macros take precedence by order)
    if pkg.macros:
        project.config["macros"] = (project.macros + "\n" + pkg.macros).strip()


def compile_to_disk(
    path: str,
    params: dict[str, str] | None = None,
    out_path: str | None = None,
) -> str:
    """Write the fully-merged, Jinja-expanded project YAML
    (reference `earthmover compile` -> earthmover_compiled.yaml)."""
    project = compile_config(path, params)
    out_path = out_path or os.path.join(
        project.base_dir, "earthmover_spark_compiled.yaml"
    )
    doc = {
        "config": project.config,
        "sources": project.sources,
        "transformations": project.transformations,
        "destinations": project.destinations,
    }
    with open(out_path, "w") as fh:
        yaml.safe_dump(doc, fh, sort_keys=False, default_flow_style=False)
    return out_path


def render_compile_time_jinja_safe(text: str, base_dir: str | None = None) -> str:
    """Best-effort first Jinja pass used only to extract macros."""
    try:
        return render_compile_time_jinja(text, base_dir=base_dir)
    except Exception:
        return text


def _validate(project: ProjectConfig) -> None:
    for name, cfg in project.sources.items():
        if not isinstance(cfg, dict):
            raise EarthmoverSparkError(f"source {name!r}: config must be a mapping")
        if not (cfg.get("file") or cfg.get("connection") or cfg.get("optional")):
            raise EarthmoverSparkError(
                f"source {name!r}: needs `file`, `connection`, or `optional: True`"
            )
    for name, cfg in project.transformations.items():
        if not isinstance(cfg, dict) or "operations" not in cfg:
            raise EarthmoverSparkError(
                f"transformation {name!r}: needs an `operations` list"
            )
        if "source" not in cfg and not any(
            op.get("sources") or op.get("operation") == "sql"
            for op in cfg["operations"]
            if isinstance(op, dict)
        ):
            raise EarthmoverSparkError(f"transformation {name!r}: needs a `source`")
        for op in cfg["operations"]:
            if "operation" not in op:
                raise EarthmoverSparkError(
                    f"transformation {name!r}: every operation needs `operation:`"
                )
    for name, cfg in project.destinations.items():
        if not isinstance(cfg, dict) or "source" not in cfg:
            raise EarthmoverSparkError(f"destination {name!r}: needs a `source`")
