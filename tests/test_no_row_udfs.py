"""North-rule enforcement (SURVEY.md §2.10): NO per-row Python UDFs anywhere.

Engine Python boundaries must be Arrow-batched (mapInArrow, applyInArrow,
arrow_udf; applyInPandasWithState for the stateful stream dedup only). A
row-at-a-time `F.udf(...)` / `@udf` in the
engine is a 10-100x regression at 100 TB — this test greps the package
source so one can't slip in silently.
"""

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "imposm2_spark"

ROW_UDF_RE = re.compile(r"(?<![\w.])(?:F\.)?udf\s*\(|@udf\b")


def test_no_row_at_a_time_udfs():
    offenders = []
    for py in PKG.rglob("*.py"):
        src = py.read_text()
        for i, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            if ROW_UDF_RE.search(code) and "pandas_udf" not in code:
                offenders.append(f"{py.relative_to(PKG.parent)}:{i}: {line.strip()}")
    assert not offenders, "row-at-a-time Python UDFs found:\n" + "\n".join(offenders)


# PySpark's Python-boundary constructs: the Arrow forms the package uses, and
# the pandas forms it may not (applyInPandasWithState has no Arrow form the
# stateful stream dedup could use)
ARROW_CROSSINGS = {"mapInArrow", "applyInArrow", "arrow_udf"}
PANDAS_CROSSINGS = {"pandas_udf", "mapInPandas", "applyInPandas", "applyInPandasWithState"}
ALLOWED_PANDAS_CROSSINGS = {("streaming/stateful.py", "applyInPandasWithState")}
# stateful.py for applyInPandasWithState, the driver-side fixture builders,
# and the worker daemon, which imports pandas before it freezes its heap
PANDAS_MODULES = {"streaming/stateful.py", "sources/fixtures.py", "worker_daemon.py"}


def _imported_modules(node) -> set[str]:
    if isinstance(node, ast.Import):
        return {a.name.split(".")[0] for a in node.names}
    if isinstance(node, ast.ImportFrom) and node.level == 0:
        return {node.module.split(".")[0]}
    return set()


def _names(node) -> set[str]:
    """The names a node references: an attribute, a name, or the names a
    from-import binds."""
    if isinstance(node, ast.Attribute):
        return {node.attr}
    if isinstance(node, ast.Name):
        return {node.id}
    if isinstance(node, ast.ImportFrom):
        return {a.name for a in node.names}
    return set()


def test_python_boundaries_are_arrow_batched():
    """Every Python crossing in the package is mapInArrow, applyInArrow or
    arrow_udf (the one exception: applyInPandasWithState in
    streaming/stateful.py), and only PANDAS_MODULES import pandas: Python
    reads whole Arrow batches, in one form, with no pandas conversion."""
    offenders, arrow_forms = [], set()
    for py in PKG.rglob("*.py"):
        rel = py.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(py.read_text())):
            if "pandas" in _imported_modules(node) and rel not in PANDAS_MODULES:
                offenders.append(f"{rel}:{node.lineno}: imports pandas")
            names = _names(node)
            arrow_forms |= names & ARROW_CROSSINGS
            for name in sorted(names & PANDAS_CROSSINGS):
                if (rel, name) not in ALLOWED_PANDAS_CROSSINGS:
                    offenders.append(f"{rel}:{node.lineno}: {name}")
    assert not offenders, "pandas at the Python boundary:\n" + "\n".join(offenders)
    assert arrow_forms == ARROW_CROSSINGS


GEOMETRY_MODULES = [
    *(f"operators/{m}.py" for m in ("assemble", "generalize", "tiles", "pip", "lines")),
    *(p.relative_to(PKG).as_posix() for p in sorted((PKG / "kernels").glob("*.py"))),
]


def test_geometry_crosses_in_arrow_only():
    """The geometry operators and the kernels import no pickle: coordinates
    reach Python as Arrow (kernels.wkb.coords_rows), with no pickled side
    channel."""
    offenders = [
        f"{rel}:{node.lineno}: imports pickle"
        for rel in GEOMETRY_MODULES
        for node in ast.walk(ast.parse((PKG / rel).read_text()))
        if "pickle" in _imported_modules(node)
    ]
    assert not offenders, "pickle in the geometry path:\n" + "\n".join(offenders)


# parameter and field names that select between implementations of one
# operator
FORK_PARAMS = {"engine", "score", "commit"}


def test_no_engine_forks():
    """No function in the package takes an `engine`, `score` or `commit`
    parameter, and no class declares such a field (a dataclass field is a
    constructor parameter): an operator has ONE implementation, and
    reference formulations live in tests/."""
    offenders = []
    for py in PKG.rglob("*.py"):
        rel = py.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.ClassDef):
                for f in node.body:
                    if (isinstance(f, ast.AnnAssign) and isinstance(f.target, ast.Name)
                            and f.target.id in FORK_PARAMS):
                        offenders.append(f"{rel}:{f.lineno}: class {node.name}.{f.target.id}")
                continue
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
            for name in sorted(names & FORK_PARAMS):
                offenders.append(f"{rel}:{node.lineno}: def {node.name}({name}=)")
    assert not offenders, "engine forks found:\n" + "\n".join(offenders)


# Parameters that selected a second code path or set a limit no caller
# outside the tests sets; each limit is a module constant read at call time.
REMOVED_PARAMS = {
    "operators.asof.asof_join": {"bucket_us"},
    "operators.interval.interval_join": {"long_span_buckets"},
    "operators.graph.pagerank": {"tol_n", "damping_num", "damping_den", "scale"},
    "streaming.ingest.stream_ingest": {
        "transform", "available_now", "max_files_per_trigger",
    },
    "streaming.ingest.read_document_stream": {"max_files_per_trigger"},
    "streaming.ingest.stream_spine": {"max_files_per_trigger"},
    "streaming.ingest.stream_curated_spine": {
        "dedup_state_ttl_ms", "max_files_per_trigger",
    },
    "streaming.ingest.stream_tile_counts": {"max_files_per_trigger"},
    "streaming.stateful.stream_dedup_first_seen": {"state_ttl_ms"},
    "streaming.stateful.stream_dedup_exact": {"state_ttl_ms"},
    "streaming.updates.stream_updates": {"available_now", "allowed_ops"},
    "streaming.profile.stream_profile": {"theta_lgk", "kll_k", "with_sketches"},
    "functions.sketches.sketch_profile": {"theta_lgk", "kll_k"},
    "functions.sketches.theta_distinct": {"lgk"},
    "functions.sketches.kll_quantile": {"k"},
    "operators.ann.train_centroids": {"iters"},
    "kernels.simplify.simplify_ring": {"min_points"},
    "kernels.geom.point_on_ring_boundary": {"eps"},
    "plans.pipeline.spine": {"salt_factor"},
    "plans.pipeline.located_points": {"salt_factor"},
    "operators.pip.pip_join": {"max_broadcast_polygons"},
    "operators.pip.polygon_index": {"max_broadcast_polygons"},
    "operators.pip.auto_salt_factor": {"hot_min", "cap"},
    "operators.assemble.assemble_relations": {"max_members"},
    "operators.ranking.bm25_rank": {"max_inline_terms"},
    "operators.tiles.raster_patch_join": {"max_patches"},
    "operators.tiles.assign_polygon_tiles": {"max_cells_per_polygon"},
    "operators.tiles.clip_polygons_to_tiles": {"max_cells_per_polygon"},
    "operators.tiles.expire_tiles": {"max_cells_per_polygon"},
    "operators.tiles.covering_tiles_udf": {"max_cells"},
    "operators.tiles.clip_tiles_udf": {"max_cells"},
    "operators.lines.merge_line_geometries": {"max_component_segments"},
    "sources.catalog.write_spatial": {"partitions"},
    "operators.knn.knn_join": {"rings"},
    "sources.pbf.read_pbf": {"blobs_per_task"},
    "sources.osmxml.read_osm_xml": {"batch_rows"},
}


def test_no_test_only_paths_or_limits():
    """The second paths and limits only tests selected stay deleted: none of
    the signatures above takes its removed parameters, the Bloom probe
    has one form, and the checkpoint manager has no stage chain (parent
    stages, lineage walk, in-process results and run metrics)."""
    import dataclasses
    import importlib
    import inspect

    offenders = []
    for qual, removed in REMOVED_PARAMS.items():
        mod, name = qual.rsplit(".", 1)
        fn = getattr(importlib.import_module(f"imposm2_spark.{mod}"), name)
        for p in sorted(removed & set(inspect.signature(fn).parameters)):
            offenders.append(f"{qual}({p}=)")
    bloom = importlib.import_module("imposm2_spark.operators.bloom")
    if hasattr(bloom, "bloom_probe_inrow"):
        offenders.append("operators.bloom.bloom_probe_inrow")
    ckpt = importlib.import_module("imposm2_spark.plans.checkpoint")
    mgr = ckpt.CheckpointManager
    if "parents" in inspect.signature(mgr.stage).parameters:
        offenders.append("plans.checkpoint.CheckpointManager.stage(parents=)")
    members = {f.name for f in dataclasses.fields(mgr)} | set(dir(mgr))
    for name in sorted({"lineage", "metrics", "results"} & members):
        offenders.append(f"plans.checkpoint.CheckpointManager.{name}")
    if hasattr(ckpt, "StageResult"):
        offenders.append("plans.checkpoint.StageResult")
    assert not offenders, "test-only paths or limits found:\n" + "\n".join(offenders)


def test_one_stream_dedup_state_machine():
    """The package calls applyInPandasWithState exactly once: every
    first-seen dedup runs the one state machine
    (streaming.stateful.first_seen_state_fn)."""
    calls = [
        f"{py.relative_to(PKG).as_posix()}:{node.lineno}"
        for py in PKG.rglob("*.py")
        for node in ast.walk(ast.parse(py.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "applyInPandasWithState"
    ]
    assert len(calls) == 1, calls


def test_no_module_cache_holders():
    """Frames that outlive their call are held through session.cache_scope
    only: no module-level `list[DataFrame]` holder, and no
    `<holder>.pop().unpersist()` release loop outside session.py."""
    offenders = []
    for py in PKG.rglob("*.py"):
        rel = py.relative_to(PKG).as_posix()
        tree = ast.parse(py.read_text())
        for node in tree.body:
            if (isinstance(node, ast.AnnAssign)
                    and ast.unparse(node.annotation) == "list[DataFrame]"):
                offenders.append(f"{rel}:{node.lineno}: {ast.unparse(node.target)}")
        if rel == "session.py":
            continue
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "unpersist"
                    and isinstance(node.func.value, ast.Call)
                    and isinstance(node.func.value.func, ast.Attribute)
                    and node.func.value.func.attr == "pop"):
                offenders.append(f"{rel}:{node.lineno}: {ast.unparse(node)}")
    assert not offenders, "cache holders outside cache_scope:\n" + "\n".join(offenders)


def _is_registered(node) -> bool:
    """A def decorated with registry.register(...): the registry calls it."""
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "register":
            return True
    return False


def _references(path: Path) -> list[tuple[str, int]]:
    """(name, lineno) of every Name / Attribute / from-import in a file."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, ast.ImportFrom):
            out.extend((a.name, node.lineno) for a in node.names)
    return out


def test_no_caller_less_library_code():
    """Every top-level def in the package has a caller outside its own body
    (in the package, tests/, scripts/, perfbench/, bench*.py or the driver
    entry), and every `_private` one has a caller in the package itself:
    a reference a test needs lives in tests/, not in the library."""
    root = PKG.parent
    lib = sorted(PKG.rglob("*.py"))
    outside = [
        *sorted((root / "tests").rglob("*.py")),
        *sorted((root / "scripts").rglob("*.py")),
        *sorted((root / "perfbench").rglob("*.py")),
        *sorted(root.glob("bench*.py")),
        root / "__spark_entry__.py",
    ]
    refs = {p: _references(p) for p in lib + outside}
    offenders = []
    for py in lib:
        rel = py.relative_to(PKG).as_posix()
        for node in ast.parse(py.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if _is_registered(node):
                continue
            own = range(node.lineno, node.end_lineno + 1)
            users = {
                p for p, names in refs.items()
                if any(n == node.name and not (p == py and ln in own) for n, ln in names)
            }
            if not users:
                offenders.append(f"{rel}:{node.lineno}: {node.name} has no caller")
            elif node.name.startswith("_") and not users & set(lib):
                offenders.append(f"{rel}:{node.lineno}: {node.name} has only test callers")
    assert not offenders, "caller-less library code:\n" + "\n".join(offenders)


def test_one_document_enrich_path():
    """The whole-batch document kernels have ONE library caller, the enrich
    crossing every document path runs (plans/pipeline.py::_enrich), and
    their modules stay free of pandas and pyspark: a second, per-row
    document path cannot come back unnoticed."""
    kernels = {"extract_text_batch", "geotag_batch"}
    callers = {k: set() for k in kernels}
    for py in PKG.rglob("*.py"):
        rel = py.relative_to(PKG).as_posix()
        for top in ast.parse(py.read_text()).body:
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in kernels:
                    callers[name].add(f"{rel}::{getattr(top, 'name', '<module>')}")
    assert callers == {k: {"plans/pipeline.py::_enrich"} for k in kernels}, callers
    for rel in ("functions/textx.py", "functions/geotag.py"):
        imported = set().union(
            *map(_imported_modules, ast.walk(ast.parse((PKG / rel).read_text())))
        )
        assert not imported & {"pandas", "pyspark"}, (rel, imported)
