"""The benchmark workloads: spine, import and curate.

Each workload generates its inputs from the seed, computes the expected
output outside the timed path, and offers:

  run_once()      the composed pipeline, from generated input to output
  check(out)      None when the output matches, else what differs
  end_iteration() release what an iteration left behind (outside timing)
  trace(tracer)   isolated spans around each public operator (traced runs)
  ratios          useful-work ratios, for the traced report

Only public names of imposm2_spark are imported.
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import re
import shutil
import tempfile
from collections import Counter, defaultdict

import numpy as np
from pyspark.sql import functions as F

from imposm2_spark.functions.text_analysis import (
    LANG_ORDER,
    LANG_STOPWORDS,
    doc_stats_udf,
    stats_lang,
    stats_quality,
)
from imposm2_spark.kernels import cells as kcells
from imposm2_spark.operators import defaultmapping as dm
from imposm2_spark.operators import mapping as M
from imposm2_spark.operators.assemble import (
    assemble_relations,
    assemble_ways,
    way_linestrings,
    way_polygons,
)
from imposm2_spark.operators.dedup import (
    dedup_connected_components,
    minhash_dropped_buckets,
    minhash_lsh_pairs,
)
from imposm2_spark.operators.generalize import materialize_generalized
from imposm2_spark.operators.pip import pip_join
from imposm2_spark.operators.tiles import assign_point_tiles
from imposm2_spark.plans.curate import curate
from imposm2_spark.plans.import_pipeline import (
    INTERESTING_RELATION_TYPES,
    import_tables,
)
from imposm2_spark.plans.pipeline import spine
from imposm2_spark.sources import fixtures, testdata
from imposm2_spark.sources.catalog import Deploy

import inputs


def noop(df) -> None:
    """Evaluate every row of `df` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def persisted(df):
    """`df` persisted and counted, so its rows are computed once."""
    df = df.persist()
    df.count()
    return df


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


# ---------------------------------------------------------------------------
# spine
# ---------------------------------------------------------------------------
class Spine:
    """sf0.1-sized documents x R through synth_documents_web and the spine."""

    name = "spine"
    # 8 replicas (40k rows), so per-row work outweighs the pipeline's fixed
    # per-run cost: on 4 vCPUs, once warm, 800 input rows took 1.7 s and
    # 20k rows 2.3 s, and that latency-bound fixed part swung with the
    # host's load more than the per-row part (the samples of one run
    # ranged over +-17% at 20k rows, +-5-12% at 40k and +-3% at 80k)
    N_DOCS, REPLICAS = 5000, 8
    ZOOMS, CELL_LEVEL = (2, 5), 4
    KEEP = ["url", "lon", "lat", "n_chars"]
    # span layout: the composed root, the isolated spans inside it, and the
    # span that takes the remainder (a stage with no public entry point)
    ROOT = "plans.spine"
    CHILDREN = ("sources.synth_documents_web", "operators.pip_join",
                "operators.assign_point_tiles", "plans.spine.aggregate")
    REMAINDER = "functions.enrich"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed = spark, seed
        self.input_rows = self.N_DOCS * self.REPLICAS
        self.ratios: dict[str, float] = {}

    def setup(self) -> None:
        self.pdf = inputs.make_documents(self.seed, self.N_DOCS)
        self.docs = inputs.documents_df(self.spark, self.pdf)
        octants = fixtures.make_world_octants(self.CELL_LEVEL)
        admin = fixtures.make_polygons_admin(self.CELL_LEVEL)
        self.poly_rows = list(octants.itertuples()) + list(admin.itertuples())
        self.polygons = fixtures.world_octants_df(self.spark, self.CELL_LEVEL).unionByName(
            fixtures.polygons_admin_df(self.spark, self.CELL_LEVEL)
        )
        # (url, lon, lat, n_chars) of every page, from the page definition
        self.points = [(page_url(i), *page_point(i), len(f"D{i}") + 1 + len(t))
                       for i, t in zip(self.pdf.doc_id.tolist(), self.pdf.text)]
        hits = self._hits()
        self.expected = self._reference(hits)
        self.ratios.update(self._ratios(hits))

    def _sources(self):
        return testdata.synth_documents_web(
            inputs.fan_out(self.spark, self.docs, self.REPLICAS)
        )

    def run_once(self):
        out = spine(self._sources(), self.polygons, zooms=self.ZOOMS,
                    cell_level=self.CELL_LEVEL)
        return out.collect()

    def check(self, rows) -> str | None:
        got = {(r["z"], r["x"], r["y"]): (r["n_docs"], r["n_polygons"], r["sum_chars"])
               for r in rows}
        if got == self.expected:
            return None
        diff = sorted(set(got.items()) ^ set(self.expected.items()))[:3]
        return f"{len(got)} tiles vs {len(self.expected)} expected; first diffs {diff}"

    def end_iteration(self) -> None:
        pass

    def _hits(self) -> list[tuple[int, int]]:
        """(point index, polygon id) for every polygon containing a point."""
        polys = [(int(p.polygon_id), [closed(r) for r in p.rings]) for p in self.poly_rows]
        return [(i, pid) for i, (_, x, y, _) in enumerate(self.points)
                for pid, rings in polys if ray_cast(x, y, rings)]

    def _reference(self, hits) -> dict:
        """Tile rows for R replicas from one replica, computed row by row:
        each replica repeats every document verbatim, so counts and sums
        scale by R and the distinct polygons per tile do not."""
        acc: dict = defaultdict(lambda: [0, set(), 0])
        for i, pid in hits:
            _, lon, lat, n_chars = self.points[i]
            for z in self.ZOOMS:
                a = acc[(z, tile_x(lon, z), tile_y(lat, z))]
                a[0] += 1
                a[1].add(pid)
                a[2] += n_chars
        r = self.REPLICAS
        return {k: (r * n, len(p), r * s) for k, (n, p, s) in acc.items()}

    def _ratios(self, hits) -> dict[str, float]:
        """Refined hits per cell-prefilter candidate (the candidates are the
        points whose level-CELL_LEVEL cell is one of a polygon's cells), and
        the share of pages without a usable point."""
        lon = np.array([p[1] for p in self.points])
        lat = np.array([p[2] for p in self.points])
        pcells = kcells.cell_encode(lon, lat, self.CELL_LEVEL)
        candidates = sum(int(np.isin(pcells, np.asarray(p.cells, dtype=np.int64)).sum())
                         for p in self.poly_rows)
        return {
            "operators.pip_join.hit_ratio": ratio(len(hits), candidates),
            "functions.enrich.null_geo_ratio": ratio(
                int(np.isnan(lon).sum() + np.isnan(lat).sum()), len(lon)),
        }

    def trace(self, tracer, it: int) -> None:
        sp = self.spark
        pts = persisted(inputs.fan_out(
            sp,
            sp.createDataFrame(self.points, "url string, lon double, lat double, n_chars long"),
            self.REPLICAS,
        ))
        tracer.run("sources.synth_documents_web", it, lambda: noop(self._sources()),
                   parent=self.ROOT)
        tracer.run("operators.pip_join", it,
                   lambda: noop(pip_join(pts, self.polygons, cell_level=self.CELL_LEVEL,
                                         keep_point_cols=self.KEEP)),
                   parent=self.ROOT)
        joined = persisted(pip_join(pts, self.polygons, cell_level=self.CELL_LEVEL,
                                    keep_point_cols=self.KEEP))
        tracer.run("operators.assign_point_tiles", it,
                   lambda: noop(assign_point_tiles(joined, list(self.ZOOMS))),
                   parent=self.ROOT)
        tiled = persisted(assign_point_tiles(joined, list(self.ZOOMS)))
        # the spine's own step: the per-tile aggregate
        tracer.run("plans.spine.aggregate", it, lambda: noop(tiled.groupBy("z", "x", "y").agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("polygon_id").alias("n_polygons"),
            F.sum("n_chars").alias("sum_chars"),
        )), parent=self.ROOT)
        for df in (tiled, joined, pts):
            df.unpersist()


# testdata.synth_documents_web's page for document id `uid` (replica 0),
# written out from its definition: url https://example.org/d/<uid, 10 digits>;
# html <title>D<uid></title>, a geo.position meta tag on 9 pages in 10, and
# the text in one <p>
LON_MUL, LON_MOD, LAT_MUL, LAT_MOD = 9973, 3_600_000, 7919, 1_700_000
FALLBACK_LAT = 85.05  # the url-hash fallback's latitude range is +-85.05


def page_url(uid: int) -> str:
    return f"https://example.org/d/{uid:010d}"


def page_point(uid: int) -> tuple[float, float]:
    """(lon, lat) of the page by the geotag rule: the meta tag's %.4f
    rendering of the uid grid point, or, on pages without one (uid % 10 ==
    0), the 8-byte blake2b hash of the url salted 'lon' / 'lat' on the
    0.0001-degree grid."""
    if uid % 10:
        lon = (uid * LON_MUL) % LON_MOD / 10_000.0 - 180.0
        lat = (uid * LAT_MUL) % LAT_MOD / 10_000.0 - 85.0
        return float(f"{lon:.4f}"), float(f"{lat:.4f}")
    url = page_url(uid).encode()

    def h(salt: bytes) -> int:
        return int.from_bytes(hashlib.blake2b(url, digest_size=8, salt=salt).digest(), "big")

    span = round(2 * FALLBACK_LAT * 10_000)
    return (h(b"lon") % 3_600_000) / 10_000.0 - 180.0, (h(b"lat") % span) / 10_000.0 - FALLBACK_LAT


def closed(ring) -> list[tuple[float, float]]:
    pts = [(float(x), float(y)) for x, y in ring]
    return pts if pts[0] == pts[-1] else pts + pts[:1]


def ray_cast(x: float, y: float, rings) -> bool:
    """Even-odd point-in-polygon over all rings (shell and holes alike): an
    edge counts when exactly one of its ends lies above y and it crosses the
    horizontal line through the point strictly right of x."""
    inside = False
    for ring in rings:
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
                inside = not inside
    return inside


# slippy-map tile math, written out from the tile definition
MERC_LAT_MAX = 85.05112878  # atan(sinh(pi)) in degrees, the web-mercator limit


def tile_x(lon: float, z: int) -> int:
    n = 1 << z
    return max(0, min(n - 1, math.floor((lon + 180.0) / 360.0 * n)))


def tile_y(lat: float, z: int) -> int:
    n = 1 << z
    lat = max(-MERC_LAT_MAX, min(MERC_LAT_MAX, lat))
    y = (1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n
    return max(0, min(n - 1, math.floor(y)))


# ---------------------------------------------------------------------------
# import
# ---------------------------------------------------------------------------
# Rows per table for ONE replica of fixtures.osm_dfs, and the rows the
# oversized relation adds (its landuse=meadow multipolygon and both
# generalized copies). Fixed by the fixture's definition.
FIXTURE_ROWS = {
    "places": 0, "mainroads": 0, "minorroads": 5, "railways": 0,
    "buildings": 81, "landusages": 8, "waterways": 0, "waterareas": 1,
    "admin": 0, "motorways": 0, "amenities": 0, "transport_points": 0,
    "transport_areas": 0, "aeroways": 0, "barrierpoints": 0,
    "barrierways": 0, "landusages_gen1": 8, "landusages_gen0": 6,
}
MEGA_ROWS = {"landusages": 1, "landusages_gen1": 1, "landusages_gen0": 1}
GENERALIZED = [dm.LANDUSAGES_GEN1, dm.LANDUSAGES_GEN0]


def parquet_rows(path: str) -> tuple[int, int, int]:
    """(rows, files, bytes) of the parquet part files under `path`."""
    import pyarrow.parquet as pq

    rows = files = size = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            p = os.path.join(path, name)
            rows += pq.read_metadata(p).num_rows
            files += 1
            size += os.path.getsize(p)
    return rows, files, size


class Import:
    """The OSM fixture x K plus one oversized relation, through
    import_tables, the landusages generalization chain and a deploy.

    Runnable with --workload import, but not listed in BENCHMARK.json: one
    run takes ~100 s on 4 vCPUs, and three workloads do not fit the time
    the benchmark is given. It is kept so that one command runs all three
    pipelines, and so that it can be listed once it fits."""

    name = "import"
    REPLICAS = 20
    ROOT = "plans.import_tables"
    CHILDREN = ("sources.osm_fixture", "operators.route", "operators.assemble_ways",
                "operators.assemble_relations", "operators.way_linestrings",
                "operators.way_polygons", "operators.apply_fields",
                "operators.materialize_generalized", "sources.deploy")
    REMAINDER = "plans.import_tables"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.ratios: dict[str, float] = {}
        self.roots: list[str] = []

    def setup(self) -> None:
        sp = self.spark
        self.base = fixtures.osm_dfs(sp)
        mn, mw, mr = inputs.mega_relation_rows(inputs.MEGA_MEMBERS, self.seed)
        self.mega = (
            sp.createDataFrame(mn, fixtures.OSM_NODES_SCHEMA),
            sp.createDataFrame(mw, fixtures.OSM_WAYS_SCHEMA),
            sp.createDataFrame(
                [(rid, [{"ref": r, "type": t, "role": ro} for r, t, ro in m], tags)
                 for rid, m, tags in mr],
                fixtures.OSM_RELATIONS_SCHEMA,
            ),
        )
        n0 = [df.count() for df in self.base]
        self.input_rows = self.REPLICAS * sum(n0) + len(mn) + len(mw) + len(mr)
        self.expected = {t: self.REPLICAS * n + MEGA_ROWS.get(t, 0)
                         for t, n in FIXTURE_ROWS.items()}

    def _sources(self):
        reps = inputs.replicated_osm(self.spark, self.base, self.REPLICAS, self.seed)
        return tuple(a.unionByName(b) for a, b in zip(reps, self.mega))

    def _deploy(self, tables) -> str:
        root = tempfile.mkdtemp(prefix="deploy-", dir=self.workdir)
        self.roots.append(root)
        deploy = Deploy(root)
        deploy.publish({name: deploy.stage(name, df) for name, df in tables.items()})
        return root

    def run_once(self):
        tables = import_tables(self.spark, *self._sources(), dm.ALL_SPECS)
        return self._deploy(materialize_generalized(tables, GENERALIZED))

    def check(self, root: str) -> str | None:
        deploy = Deploy(root)
        current = deploy.current()
        got, files, size = {}, 0, 0
        for table in self.expected:
            if table not in current:
                return f"CURRENT does not name table {table!r}"
            rows, n_files, n_bytes = parquet_rows(deploy.table_path(table))
            got[table] = rows
            files += n_files
            size += n_bytes
        self.ratios["sources.deploy.files_written"] = files
        self.ratios["sources.deploy.bytes_written"] = size
        bad = {t: (got[t], n) for t, n in self.expected.items() if got[t] != n}
        return f"table rows (got, expected): {bad}" if bad else None

    def end_iteration(self) -> None:
        while self.roots:
            shutil.rmtree(self.roots.pop(), ignore_errors=True)

    def trace(self, tracer, it: int) -> None:
        sp = self.spark
        nodes, ways, rels = self._sources()
        tracer.run("sources.osm_fixture", it,
                   lambda: [noop(df) for df in (nodes, ways, rels)],
                   parent=self.ROOT)
        keys = M.spec_tag_keys(dm.ALL_SPECS)
        nodes, ways, rels = (M.prune_tags(df, keys).persist() for df in (nodes, ways, rels))
        n_ways = ways.count()
        nodes.count()
        rels.count()
        shape_specs = [s for s in dm.ALL_SPECS if s.geom_type != M.GEOM_POINT]
        tracer.run("operators.route", it,
                   lambda: noop(M.route(ways, shape_specs, sp)), parent=self.ROOT)
        routed = M.route(ways, shape_specs, sp).persist()
        self.ratios["operators.route.hit_ratio"] = ratio(
            routed.select("id").distinct().count(), n_ways)
        coords = nodes.select("id", "lon", "lat")
        tracer.run("operators.assemble_ways", it,
                   lambda: noop(assemble_ways(ways, coords)), parent=self.ROOT)
        aw = assemble_ways(ways, coords).persist()
        aw.count()
        interesting = rels.where(
            F.element_at("tags", "type").isin(*INTERESTING_RELATION_TYPES))
        tracer.run("operators.assemble_relations", it,
                   lambda: noop(assemble_relations(interesting, aw)), parent=self.ROOT)
        self.ratios["operators.assemble_relations.built_ratio"] = ratio(
            assemble_relations(interesting, aw).count(), interesting.count())
        tracer.run("operators.way_linestrings", it,
                   lambda: noop(way_linestrings(aw)), parent=self.ROOT)
        tracer.run("operators.way_polygons", it,
                   lambda: noop(way_polygons(aw)), parent=self.ROOT)
        polys = way_polygons(aw).persist()
        closed = aw.where(F.col("coords")[0] == F.element_at("coords", -1)).count()
        self.ratios["operators.way_polygons.valid_ratio"] = ratio(polys.count(), closed)
        routed_polys = routed.join(polys.select("id", "rings", "area", "wkb"), "id").persist()
        routed_polys.count()
        poly_specs = [s for s in dm.ALL_SPECS if s.geom_type == M.GEOM_POLYGON]
        tracer.run("operators.apply_fields", it,
                   lambda: [noop(M.apply_fields(routed_polys, s)) for s in poly_specs],
                   parent=self.ROOT)
        tables = {k: v.persist() for k, v in import_tables(
            sp, *self._sources(), dm.ALL_SPECS).items()}
        for df in tables.values():
            df.count()
        tracer.run("operators.materialize_generalized", it,
                   lambda: [noop(df) for name, df in materialize_generalized(
                       {"landusages": tables["landusages"]}, GENERALIZED).items()
                       if name != "landusages"],
                   parent=self.ROOT)
        full = materialize_generalized(tables, GENERALIZED)
        for g in GENERALIZED:
            full[g.name] = full[g.name].persist()
            full[g.name].count()
        tracer.run("sources.deploy", it, lambda: self._deploy(full), parent=self.ROOT)
        self.end_iteration()
        sp.catalog.clearCache()


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------
class Curate:
    """Documents x R: half the replica rows verbatim (exact-dup), the rest
    one-word variants that survive exact dedup."""

    name = "curate"
    N_DOCS, REPLICAS = 5000, 4
    MAX_BUCKET = 10_000
    MIN_QUALITY, LANGS, THRESHOLD = 0.3, ("en",), 0.5
    ROOT = "plans.curate"
    CHILDREN = ("sources.replicate_docs", "functions.doc_stats",
                "operators.minhash_lsh_pairs", "operators.dedup_connected_components")
    REMAINDER = "plans.curate"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed = spark, seed
        self.input_rows = self.N_DOCS * self.REPLICAS
        self.ratios: dict[str, float] = {}

    def setup(self) -> None:
        self.pdf = inputs.make_documents(self.seed, self.N_DOCS)
        self.docs = inputs.documents_df(self.spark, self.pdf)
        self.expected = self._reference()

    def _sources(self):
        return inputs.replicate_with_variants(self.spark, self.docs, self.seed, self.REPLICAS)

    def run_once(self):
        kept = curate(self._sources(), min_quality=self.MIN_QUALITY, langs=self.LANGS,
                      neardup_threshold=self.THRESHOLD)
        return [r[0] for r in kept.select("doc_id").collect()]

    def check(self, ids) -> str | None:
        got = (len(ids), digest(ids))
        return None if got == self.expected else f"kept (n, digest) {got} vs {self.expected}"

    def end_iteration(self) -> None:
        pass

    def _reference(self) -> tuple[int, str]:
        """Kept ids computed document by document from the definitions: the
        gates, exact dedup by text, MinHash-LSH candidates, exact Jaccard
        verification and union-find clusters."""
        docs = []
        for rep in range(self.REPLICAS):
            for doc_id, text in zip(self.pdf.doc_id.tolist(), self.pdf.text):
                if inputs.is_variant_py(doc_id, rep, self.seed):
                    text = inputs.variant_text_py(text, rep)
                docs.append((doc_id + rep * 1_000_000, text))
        gate = {t: passes_gates(t, self.MIN_QUALITY, self.LANGS) for t in {t for _, t in docs}}
        gated = [(i, t) for i, t in docs if gate[t]]
        first: dict[str, int] = {}
        for i, t in gated:
            first[t] = min(i, first.get(t, i))
        exact = sorted((i, t) for t, i in first.items())
        buckets: dict = defaultdict(list)
        shingles = {}
        for i, t in exact:
            shs = shingle_hashes(t)
            if not shs:
                continue
            shingles[i] = set(shs)
            for b, key in enumerate(band_keys(shs)):
                buckets[(b, key)].append(i)
        # minhash_lsh_pairs drops buckets over max_bucket; none may be
        # dropped, or the kept set would depend on the cap
        if max(map(len, buckets.values()), default=0) > self.MAX_BUCKET:
            raise RuntimeError("an LSH bucket exceeds max_bucket")
        cand = {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])  # path halving
                x = parent[x]
            return x

        verified = 0
        for a, b in cand:
            sa, sb = shingles[a], shingles[b]
            if round(len(sa & sb) / len(sa | sb), 9) >= self.THRESHOLD:
                verified += 1
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
        kept = [i for i, _ in exact if find(i) == i]
        self.ratios.update({
            "functions.doc_stats.gate_ratio": ratio(len(gated), len(docs)),
            "plans.curate.exact_keep_ratio": ratio(len(exact), len(gated)),
            "operators.minhash_lsh_pairs.verified_ratio": ratio(verified, len(cand)),
        })
        return len(kept), digest(kept)

    def trace(self, tracer, it: int) -> None:
        tracer.run("sources.replicate_docs", it, lambda: noop(self._sources()),
                   parent=self.ROOT)
        docs = persisted(self._sources())
        stats = doc_stats_udf()

        def scored():
            return docs.select("doc_id", "text", stats(F.col("text")).alias("_s")).select(
                "doc_id", "text",
                stats_lang(F.col("_s")).alias("lang_pred"),
                F.round(stats_quality(F.col("_s")), 6).alias("quality"),
            )

        tracer.run("functions.doc_stats", it, lambda: noop(scored()), parent=self.ROOT)
        gated = scored().where(
            (F.col("quality") >= self.MIN_QUALITY) & F.col("lang_pred").isin(*self.LANGS)
        )
        keepers = gated.groupBy(F.md5("text").alias("_h")).agg(F.min("doc_id").alias("doc_id"))
        exact = persisted(gated.join(keepers, "doc_id", "left_semi"))
        if it == 0:
            # the reference already fails set-up if a bucket of the same
            # docs exceeds max_bucket; this is the library's own count
            dropped = minhash_dropped_buckets(exact, max_bucket=self.MAX_BUCKET).count()
            self.ratios["operators.minhash_lsh_pairs.dropped_buckets"] = dropped
            if dropped:
                raise RuntimeError(f"{dropped} LSH buckets exceed max_bucket")
        # the span materializes the pairs that the next span reads, so the
        # heaviest operator runs once per traced iteration, not twice
        pairs = tracer.run("operators.minhash_lsh_pairs", it,
                           lambda: persisted(minhash_lsh_pairs(exact, threshold=self.THRESHOLD)),
                           parent=self.ROOT)
        tracer.run("operators.dedup_connected_components", it,
                   lambda: noop(dedup_connected_components(pairs)), parent=self.ROOT)
        for df in (pairs, exact, docs):
            df.unpersist()


def digest(ids) -> str:
    return hashlib.sha256(",".join(map(str, sorted(ids))).encode()).hexdigest()[:16]


# MinHash-LSH, written out from its integer formulas: a token hashes by the
# polynomial fold h = (h * 31 + codepoint) mod CHAR_MOD; a shingle combines
# three consecutive token hashes as ((h0 * C + h1) mod CHAR_MOD * C + h2) mod
# CHAR_MOD; signature component j is min over shingles s of (a_j * s + b_j)
# mod P; band b folds components 4b..4b+3 as (k * C + m) mod P.
CHAR_MOD, COMBINE, MINHASH_P = 1_000_000_007, 8191, 2_147_483_647
PERMS = (
    (1405398811, 1318097825), (1312766851, 546384608), (1859270843, 1895728960),
    (1060783121, 1428938888), (1048979941, 600572080), (696670829, 1132840846),
    (1829894313, 1769179632), (963949843, 875721043), (1283395939, 532166178),
    (809769487, 1147694537), (267364855, 607944294), (2020876781, 1552976924),
    (56309789, 683420184), (1672092085, 1060610687), (1347391875, 398850620),
    (1705409389, 1066788577),
)
BANDS, BAND_ROWS = 4, 4
PERM_A = np.array([a for a, _ in PERMS], dtype=np.int64)[:, None]
PERM_B = np.array([b for _, b in PERMS], dtype=np.int64)[:, None]


@functools.lru_cache(maxsize=4096)
def token_hash(token: str) -> int:
    h = 0
    for ch in token:
        h = (h * 31 + ord(ch)) % CHAR_MOD
    return h


def shingle_hashes(text: str) -> list[int]:
    """Word-3-gram hashes of single-space tokens; [] below three tokens."""
    th = [token_hash(t) for t in text.split(" ")]
    return [((th[k] * COMBINE + th[k + 1]) % CHAR_MOD * COMBINE + th[k + 2]) % CHAR_MOD
            for k in range(len(th) - 2)]


def band_keys(shs: list[int]) -> list[int]:
    # a_j * s + b_j < 2^31 * 2^30 + 2^31: exact in int64
    sig = ((PERM_A * np.array(shs, dtype=np.int64) + PERM_B) % MINHASH_P).min(axis=1).tolist()
    keys = []
    for b in range(BANDS):
        k = sig[BAND_ROWS * b]
        for m in sig[BAND_ROWS * b + 1:BAND_ROWS * (b + 1)]:
            k = (k * COMBINE + m) % MINHASH_P
        keys.append(k)
    return keys


NOT_ALPHA = re.compile("[^A-Za-z]")
ALNUM_SPACE = re.compile("[A-Za-z0-9\\s]")


def passes_gates(text: str, min_quality: float, langs) -> bool:
    """The curate quality and language gates for single-space ASCII text,
    from their definitions: quality blends the alpha ratio, the English
    stopword ratio and a length term; the language with the most stopword
    hits wins, earlier languages winning ties, none -> 'und'."""
    toks = text.split(" ")
    n_chars, n_tok = len(text), len(toks)
    alpha = len(NOT_ALPHA.sub("", text))
    punct = len(ALNUM_SPACE.sub("", text))
    counts = Counter(t.lower() for t in toks)
    hits = {lang: sum(n for t, n in counts.items() if t in LANG_STOPWORDS[lang])
            for lang in LANG_ORDER}
    quality = (0.5 * (alpha / max(n_chars, 1)) + 0.3 * (hits["en"] / max(n_tok, 1))
               + 0.2 * min(n_tok / 100.0, 1.0) - 0.5 * (punct / max(n_chars, 1)))
    quality = round(max(0.0, min(1.0, quality)), 6)
    best = max(hits.values())
    lang = next(lg for lg in LANG_ORDER if hits[lg] == best) if best > 0 else "und"
    return quality >= min_quality and lang in langs


WORKLOADS = {w.name: w for w in (Spine, Import, Curate)}
