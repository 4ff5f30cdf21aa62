"""Doc-lint: every measurement-artifact citation must resolve to a
committed file.

Round 7's one contract breach (VERDICT r7) was prose citing SWEEP_r07
measurements while no SWEEP_r07.json existed in the tree — the sweep
ran but its artifact was never written/committed, so three headline
scale claims were unverifiable. This test makes that class of error
structurally impossible: any token shaped like SWEEP_rN / BENCH_rN /
CORRECTNESS_rN in SCALING.md, COVERAGE.md, BASELINE.md, README.md, an
OPTIMIZATION_rN.md round report or a flink_graph_spark/tools/bench
docstring must have the matching .json at the repo root. Slash
shorthand ("SWEEP_r06/r07") expands to every member.

VERDICT.md is deliberately not scanned: it is the review record, and it
names a missing artifact on purpose when it reports one as missing.
"""

from __future__ import annotations

import glob
import os
import re
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_TOKEN = re.compile(r"\b(SWEEP|BENCH|CORRECTNESS)_r(\d+)((?:/r\d+)+)?\b")

_DOC_FILES = ["SCALING.md", "COVERAGE.md", "BASELINE.md", "README.md"]


def _doc_paths() -> list[str]:
    """The scanned evidence docs: the fixed set plus every round's
    OPTIMIZATION_rN.md report."""
    paths = [os.path.join(REPO, f) for f in _DOC_FILES]
    return paths + sorted(glob.glob(os.path.join(REPO, "OPTIMIZATION_r*.md")))


def _tracked_root_files() -> set[str] | None:
    """Repo-root files git actually tracks, or None outside a git
    checkout (fall back to os.path.exists there). ADVICE r8: checking
    bare filesystem existence let an artifact that exists only as an
    UNTRACKED working-tree file satisfy the lint while a fresh clone
    of HEAD lacks it — the exact 'cited but never committed' breach
    class this test exists to kill."""
    try:
        out = subprocess.run(
            ["git", "ls-files"],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=30,
        )
        if out.returncode != 0:
            return None
        return {l.strip() for l in out.stdout.splitlines() if l.strip()}
    except Exception:
        return None


def _cited(text):
    for kind, first, extra in _TOKEN.findall(text):
        rounds = [first] + re.findall(r"r(\d+)", extra or "")
        for r in rounds:
            yield f"{kind}_r{int(r):02d}.json"


def _registry_names() -> set[str]:
    import sys

    sys.path.insert(0, REPO)
    from __spark_entry__ import queries

    return set(queries().keys())


def test_cited_sweep_rows_exist():
    """Raw-row coverage (VERDICT r8 item 8): when prose names a registry
    query on the same line as a SWEEP_rN citation, the cited artifact
    must actually contain that query's row — closing the last gap
    between a quoted number and a committed measurement. Lines
    containing the token 'solo' are exempt: solo confirmation runs are
    the one legitimate case of quoting a number measured OUTSIDE the
    sweep next to the sweep row it contextualizes (e.g. COVERAGE.md's
    semantic_dedup_clusters 302.6s solo vs SWEEP_r06's lsh row)."""
    import json

    qnames = _registry_names()
    sweep_tok = re.compile(r"\bSWEEP_r(\d+)\b")
    backtick = re.compile(r"`([a-z0-9_]+)`")
    art_cache: dict[str, set[str]] = {}

    def rows_of(artifact: str) -> set[str] | None:
        if artifact not in art_cache:
            p = os.path.join(REPO, artifact)
            if not os.path.exists(p):
                return None  # committedness is the other test's job
            with open(p, encoding="utf-8") as fh:
                data = json.load(fh)
            # top-level sections (recall_at_scale, wedge_census_p100,
            # ann_recall...) count as rows too: prose cites them by key
            art_cache[artifact] = set(data.get("queries", {})) | set(data)
        return art_cache[artifact]

    bad = []
    for p in _doc_paths():
        if not os.path.exists(p):
            continue
        doc = os.path.relpath(p, REPO)
        with open(p, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                arts = sweep_tok.findall(line)
                if not arts or "solo" in line:
                    continue
                qs = [q for q in backtick.findall(line) if q in qnames]
                for r in arts:
                    artifact = f"SWEEP_r{int(r):02d}.json"
                    rows = rows_of(artifact)
                    if rows is None:
                        continue
                    for q in qs:
                        if q not in rows:
                            bad.append(f"{doc}:{lineno} cites {artifact} "
                                       f"next to `{q}` but the artifact "
                                       "has no such row")
    assert not bad, "\n".join(bad)


def test_every_cited_artifact_is_committed():
    paths = _doc_paths()
    paths += glob.glob(os.path.join(REPO, "flink_graph_spark/**/*.py"),
                       recursive=True)
    paths += glob.glob(os.path.join(REPO, "tools/*.py"))
    paths += [os.path.join(REPO, "bench.py"),
              os.path.join(REPO, "__spark_entry__.py")]
    tracked = _tracked_root_files()

    def committed(artifact: str) -> bool:
        if tracked is not None:
            return artifact in tracked
        return os.path.exists(os.path.join(REPO, artifact))

    missing = {}
    for p in paths:
        if not os.path.exists(p):
            continue
        with open(p, encoding="utf-8") as fh:
            text = fh.read()
        for artifact in _cited(text):
            if not committed(artifact):
                missing.setdefault(artifact, []).append(os.path.relpath(p, REPO))
    assert not missing, (
        "prose cites measurement artifacts not committed to git "
        f"(git add the artifact or amend the claim): {missing}"
    )
