"""In-process kernel timings on fixed batches drawn from the seeded inputs.

Every workload reports the same eight kernel metrics, so a traced run of any
workload shows all of them; each is the median of several passes over its
batch.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from imposm2_spark.functions.geotag import geotag_pair
from imposm2_spark.functions.textx import extract_text_bytes
from imposm2_spark.kernels import texthash, textstats
from imposm2_spark.kernels.geom import points_in_rings
from imposm2_spark.kernels.rings import build_multipolygon, merge_rings
from imposm2_spark.kernels.wkb import polygon_wkb
from imposm2_spark.sources import fixtures, testdata

import inputs

N_DOCS, PASSES = 2000, 5


def _us_per(fn, n_items: int) -> float:
    """Median microseconds per item over PASSES calls of fn()."""
    times = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e6 / n_items


def kernel_timings(spark, seed: int) -> dict[str, float]:
    pdf = inputs.make_documents(seed, N_DOCS)
    web = testdata.synth_documents_web(inputs.documents_df(spark, pdf)).select(
        "url", "html").collect()
    batch = [(r["url"], bytes(r["html"])) for r in web]
    texts = list(pdf.text)
    geo = np.array([geotag_pair(u, h) for u, h in batch])
    lon, lat = geo[:, 0], geo[:, 1]
    polys = [
        [np.asarray(r, dtype=np.float64) for r in rings]
        for rings in list(fixtures.make_world_octants(4).rings)
        + list(fixtures.make_polygons_admin(4).rings)
    ]
    nodes, ways, _ = inputs.mega_relation_rows(inputs.MEGA_MEMBERS, seed)
    xy = {nid: (x, y) for nid, x, y, _ in nodes}
    members = [np.array([xy[r] for r in refs]) for _, refs, _ in ways]
    merged = merge_rings(members)
    rings = [r for poly in build_multipolygon(merged).polygons for r in poly]
    shingles = [texthash.shingle_hashes_from_tokens(texthash.token_hashes_doc(t))
                for t in texts]
    return {
        "functions.textx.extract_text_bytes.us_per_row": _us_per(
            lambda: [extract_text_bytes(h) for _, h in batch], len(batch)),
        "functions.geotag.geotag_pair.us_per_row": _us_per(
            lambda: [geotag_pair(u, h) for u, h in batch], len(batch)),
        "kernels.geom.points_in_rings.us_per_point": _us_per(
            lambda: [points_in_rings(lon, lat, p) for p in polys], len(lon)),
        "kernels.rings.merge_rings.us_per_member": _us_per(
            lambda: merge_rings(members), len(members)),
        "kernels.rings.build_multipolygon.us_per_relation": _us_per(
            lambda: build_multipolygon(merged), 1),
        "kernels.wkb.polygon_wkb.us_per_ring": _us_per(
            lambda: [polygon_wkb([r]) for _ in range(100) for r in rings],
            100 * len(rings)),
        "kernels.textstats.batch_stats.us_per_doc": _us_per(
            lambda: textstats.batch_stats(texts), len(texts)),
        "kernels.texthash.minhash_sig_from_shingles.us_per_doc": _us_per(
            lambda: [texthash.minhash_sig_from_shingles(s) for s in shingles],
            len(shingles)),
    }
