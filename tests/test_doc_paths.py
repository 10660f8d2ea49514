"""The living docs point only at files that exist.

Two rules, over README, SCALE, COVERAGE, TESTDATA, FIXTURES, BASELINE,
ROADMAP and the verify skill (fenced code blocks are skipped — commands
there name the outputs they write):

- a backticked token whose first path part is a tracked top-level entry
  (``tools/compare.py``, ``tests/test_explain.py:1313``) must exist; a
  ``:line`` or ``:symbol`` suffix is allowed, and a glob must match;
- a bare ``NAME.json``/``.md``/``.log`` token (no directory) must be a
  tracked file somewhere in the tree, or an output the repo ignores.
"""

import glob
import os
import re
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = (
    "README.md",
    "SCALE.md",
    "COVERAGE.md",
    "TESTDATA.md",
    "FIXTURES.md",
    "BASELINE.md",
    "ROADMAP.md",
    ".claude/skills/verify/SKILL.md",
)
_TICKED = re.compile(r"`([^`\n]+)`")
_BARE = re.compile(r"(?<![\w/.*{<-])([\w-]+\.(?:json|md|log))(?![\w/*-])")


@pytest.fixture(scope="module")
def tracked() -> list[str]:
    out = subprocess.run(
        ["git", "ls-files"], cwd=ROOT, capture_output=True, text=True
    )
    if out.returncode:
        pytest.skip("not a git checkout: " + out.stderr.strip())
    return out.stdout.splitlines()


def _ignored(names: set[str]) -> set[str]:
    """The names git ignores (check-ignore exits 1 when it finds none)."""
    if not names:
        return set()
    out = subprocess.run(
        ["git", "check-ignore", "--no-index", *sorted(names)],
        cwd=ROOT, capture_output=True, text=True,
    )
    assert out.returncode in (0, 1), out.stderr
    return set(out.stdout.split())


def _prose_lines(doc: str):
    fenced = False
    with open(os.path.join(ROOT, doc)) as fh:
        for n, line in enumerate(fh, 1):
            if line.lstrip().startswith("```"):
                fenced = not fenced
            elif not fenced:
                yield n, line


def _exists(path: str) -> bool:
    return bool(glob.glob(os.path.join(ROOT, path)))


def test_ticked_paths_exist(tracked):
    top = {p.split("/", 1)[0] for p in tracked}
    missing = []
    for doc in DOCS:
        for n, line in _prose_lines(doc):
            for tok in _TICKED.findall(line):
                path = tok.split()[0].split(":", 1)[0] if tok.split() else ""
                if "/" in path and path.split("/", 1)[0] in top:
                    if not _exists(path):
                        missing.append(f"{doc}:{n}: `{tok}`")
    assert not missing, "docs point at missing paths:\n" + "\n".join(missing)


def test_bare_record_names_exist(tracked):
    names = {os.path.basename(p) for p in tracked}
    missing = []
    for doc in DOCS:
        for n, line in _prose_lines(doc):
            for name in _BARE.findall(line):
                if name not in names:
                    missing.append((doc, n, name))
    ignored = _ignored({name for _, _, name in missing})
    missing = [f"{d}:{n}: {name}" for d, n, name in missing if name not in ignored]
    assert not missing, "docs name missing files:\n" + "\n".join(missing)
