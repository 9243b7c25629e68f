"""Static anti-pattern guard over the engine source — pins the
scale posture as a test instead of a per-round re-grep:

- ZERO row-at-a-time Python UDFs (the only Python on the hot path is
  Arrow-batched: pandas_udf / mapInPandas / applyInPandas);
- every crossJoin broadcasts a scalar/tiny side (or sits on the
  explicit allowlist with a reason);
- driver-side .collect() stays confined to the files where it is
  documented metadata-sized (dates, centroids, codebooks, manifest
  state) — a new collect anywhere forces a conscious allowlist edit;
- no RDD API on the query path (DataFrame-only engine);
- engine sources are ASCII-only;
- every public engine entry point is reached by the engine itself or
  by the declared surface (package docstring), not only by tests.
"""

from __future__ import annotations

import ast
import io
import os
import re
import tokenize
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(REPO, "roborock_data_pipeline_spark")

# files allowed to call .collect(), with the maximum number of call
# sites; every one is driver-state-sized (centroids / codebooks /
# audit scalars / |devices| rows), never a table's rows -- the one
# exception is the record sync's collect of the rows of the cloud
# files landed since its last call, which is what it appends. Raising
# a number here is a conscious review act.
COLLECT_ALLOW = {
    "plans/inspect.py": 1,       # plan-string capture for tests
    "operators/clustering.py": 2,  # k x d centroids
    "operators/similarity.py": 4,  # IVF probe+centroid metadata,
                                   # pq_fit's two k-means collects,
                                   # PQ probe+seed (k rows each)
    "sources/export.py": 1,      # shard manifest (one row per shard)
    "pipeline.py": 5,            # CLI status rows, monitor fold
                                 # (|devices| + sessions rows), smart's
                                 # per-device aggregate of the new files
                                 # and the lifetime snapshot (|devices|
                                 # rows each), record sync's new files'
                                 # rows (delta-sized: the batch it
                                 # appends); all written driver-side
}

# crossJoin sites whose non-broadcast side is provably tiny
CROSSJOIN_ALLOW = {
    # date spine x distinct event types: both driver-small, and the
    # join IS the product being built (scaffold semantics)
    ("operators/layout.py", "spine_days.crossJoin(types)"),
    # two 1-row aggregates (recall gate): scalar x scalar
    ("operators/accuracy.py", "t.crossJoin(a)"),
}


def _engine_files():
    for root, _dirs, files in os.walk(ENGINE):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                yield os.path.relpath(p, ENGINE), open(p).read()


def test_no_row_at_a_time_python_udfs():
    pat = re.compile(r"F\.udf\(|@udf\b|udf\.register|UserDefinedFunction\(")
    hits = [
        f"{rel}: {m.group(0)}"
        for rel, src in _engine_files()
        for m in pat.finditer(src)
    ]
    assert hits == [], f"row-at-a-time UDFs introduced: {hits}"


def test_no_rdd_api_on_query_path():
    # .rdd / sparkContext.parallelize would bypass Catalyst entirely;
    # mapPartitions only exists as the DataFrame mapInPandas form
    pat = re.compile(r"\.rdd\b|parallelize\(|\.mapPartitions\(")
    hits = [
        f"{rel}: {m.group(0)}"
        for rel, src in _engine_files()
        for m in pat.finditer(src)
    ]
    assert hits == [], f"RDD API introduced: {hits}"


def test_crossjoins_broadcast_a_tiny_side():
    bad = []
    for rel, src in _engine_files():
        for line in src.splitlines():
            if "crossJoin" not in line:
                continue
            if "F.broadcast(" in line:
                continue
            if any(
                rel == f and snippet in line
                for f, snippet in CROSSJOIN_ALLOW
            ):
                continue
            bad.append(f"{rel}: {line.strip()}")
    assert bad == [], f"non-broadcast crossJoin introduced: {bad}"


def test_driver_collects_stay_metadata_sized():
    unexpected, over = [], []
    for rel, src in _engine_files():
        n = src.count(".collect()")
        if n == 0:
            continue
        cap = COLLECT_ALLOW.get(rel)
        if cap is None:
            unexpected.append(f"{rel}: {n}")
        elif n > cap:
            over.append(f"{rel}: {n} > {cap}")
    assert unexpected == [], f"collect() in new files: {unexpected}"
    assert over == [], f"collect() count grew: {over}"


# every os.replace call site in the engine, with its justification.
# r13 (VERDICT r12 #1 done-condition): NO os.replace may make a
# target reader-visible — a rename is either (a) inside
# commit_provider itself (the local-FS form of the atomic pointer
# PUT / rename-aside steal) or (b) pure NAMING under a naming lock
# (the dir stays invisible until a manifest/pointer commit). The one
# exception is the monitor's sessions dir, which plain readers list
# (below). Adding a rename anywhere else must fail this pin and force
# a conscious review.
REPLACE_ALLOW = {
    # (a) the provider's own primitives
    "sources/commit_provider.py": 2,   # swap_pointer tmp->path; steal aside
    # (b) naming-only renames, commit = pointer swap
    "sources/versioned_dir.py": 2,     # staged -> v-{gen} + the
                                       # trash-rename (both invisible
                                       # names, under _lock)
    "sources/sinks.py": 4,             # append/overwrite/merge-base
                                       # naming under _manifest_lock, and
                                       # overwrite_partitions' version-dir
                                       # naming (commit = _partitions.json)
    # local build artifact (executor zip), not a data commit
    "session.py": 1,
    # the monitor's sessions part file: the one reader-visible rename.
    # A plain reader lists the dir, so a rename is the only way in; a
    # replay of the same epoch replaces the same name with a superset,
    # and the fold's commit (the state pointer) comes after it
    "pipeline.py": 1,
}


def test_no_reader_visible_os_replace_outside_the_seam():
    unexpected, over = [], []
    for rel, src in _engine_files():
        n = len(re.findall(r"os\.replace\(", src))
        if n == 0:
            continue
        cap = REPLACE_ALLOW.get(rel)
        if cap is None:
            unexpected.append(f"{rel}: {n}")
        elif n > cap:
            over.append(f"{rel}: {n} > {cap}")
    assert unexpected == [], (
        "os.replace in new files (route the commit through "
        f"commit_provider / versioned_dir instead): {unexpected}"
    )
    assert over == [], f"os.replace count grew: {over}"


def test_engine_sources_are_ascii_only():
    offenders = []
    for rel, src in _engine_files():
        for n, line in enumerate(src.splitlines(), 1):
            bad = sorted({c for c in line if ord(c) > 127})
            if bad:
                offenders.append(f"{rel}:{n}: {''.join(bad)!r}")
    assert offenders == [], f"non-ASCII in engine sources: {offenders[:20]}"


# Public top-level engine defs that nothing in the engine and nothing
# on the declared surface (``__spark_entry__.py``, ``bench.py``,
# ``perfbench/``) names. Each is kept on purpose; the reason says why.
# Anything else that only tests call must go (ROADMAP D8), so adding a
# name here is a conscious review act.
ENTRY_POINT_ALLOW = {
    # commit-seam test doubles: they carry the object-store claim
    # (tests/conftest.py swaps BACKEND under
    # SPARK_GRAFT_COMMIT_BACKEND=memory)
    "sources/commit_provider.py:InMemoryObjectStoreBackend":
        "object-store backend model; the memory-backend sweep runs on it",
    "sources/commit_provider.py:FaultInjectingBackend":
        "lost-PUT / stale-read fault model for the commit protocol tests",
    # plan-inspection helpers the plan pins are written with
    "plans/inspect.py:executed_plan_string": "plan-pin helper (tests)",
    "plans/inspect.py:pushed_filters": "plan-pin helper (tests)",
    "plans/inspect.py:read_schemas": "plan-pin helper (tests)",
    "plans/inspect.py:count_occurrences": "plan-pin helper (tests)",
    "plans/observe.py:expect":
        "data-contract metrics; kept for the event log (ROADMAP D5)",
    # readers of what mode_curate's export publishes
    "sources/export.py:read_export": "reader of the curate-mode export",
    "sources/export.py:read_manifest": "reader of the curate-mode export",
    # the as-of oracle of the crash and vacuum tests: a vacuum base
    # carries its newest absorbed stamp, the invariant the
    # incremental refreshes' fold proof rests on
    "sources/sinks.py:read_table_as_of":
        "oracle for the vacuum-base stamp invariant the fold proof uses",
    # the cache contract the registry keeps
    "functions/cache_tracking.py:tracked_count":
        "observes the registry's cache contract",
    "functions/cache_tracking.py:release_all":
        "resets the registry's cache contract between tests",
}


def _code_names(src: str) -> list[tuple[str, int]]:
    """Identifier tokens with their line numbers. Comments and string
    literals (docstrings included) are not code and never count."""
    return [
        (t.string, t.start[0])
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type == tokenize.NAME
    ]


def _surface_names() -> set[str]:
    paths = [os.path.join(REPO, "__spark_entry__.py"),
             os.path.join(REPO, "bench.py")]
    pdir = os.path.join(REPO, "perfbench")
    paths += [os.path.join(pdir, f) for f in os.listdir(pdir)
              if f.endswith(".py")]
    return {n for p in paths for n, _ in _code_names(open(p).read())}


def _is_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in node.decorator_list
    )


def test_no_test_only_engine_entry_points():
    """A public top-level def (not @query, not _-prefixed) must be
    named somewhere else in the engine or on the declared surface:
    otherwise only tests reach it, and it goes (ROADMAP D8) unless it
    is on ENTRY_POINT_ALLOW with a reason."""
    files = dict(_engine_files())
    seen_at = defaultdict(list)  # name -> [(file, line)] in engine code
    for rel, src in files.items():
        for n, line in _code_names(src):
            seen_at[n].append((rel, line))
    surface = _surface_names()
    orphans = []
    for rel, src in sorted(files.items()):
        for node in ast.parse(src).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_") or _is_query(node):
                continue
            lo = min([node.lineno] + [d.lineno for d in node.decorator_list])
            hi = node.end_lineno
            named = node.name in surface or any(
                r != rel or not lo <= line <= hi
                for r, line in seen_at[node.name]
            )
            if not named:
                orphans.append(f"{rel}:{node.name}")
    unlisted = [o for o in orphans if o not in ENTRY_POINT_ALLOW]
    assert unlisted == [], (
        "public engine defs that only tests reach (delete them, or "
        f"allowlist with a reason): {unlisted}"
    )
    stale = sorted(set(ENTRY_POINT_ALLOW) - set(orphans))
    assert stale == [], f"allowlisted but now reached or gone: {stale}"
    assert all(ENTRY_POINT_ALLOW.values()), "every entry needs a reason"


def test_engine_runs_no_structured_streaming():
    """The monitor is one batch fold per call, with its state committed
    through the seam. A long-running query would keep its state in a
    stream checkpoint outside the seam, so the engine neither imports
    pyspark.sql.streaming nor starts a stream."""
    calls = {"readStream", "writeStream", "applyInPandasWithState"}
    found = []
    for rel, src in _engine_files():
        for node in ast.walk(ast.parse(src)):
            mods = ([a.name for a in node.names] if isinstance(node, ast.Import)
                    else [node.module or ""] if isinstance(node, ast.ImportFrom)
                    else [])
            if any(m.startswith("pyspark.sql.streaming") for m in mods):
                found.append(f"{rel}:{node.lineno}: import")
        found += [f"{rel}:{line}: {n}" for n, line in _code_names(src) if n in calls]
    assert found == [], f"Structured Streaming in the engine: {found}"
