"""Per-primitive cost of the signature UDF body, in ms per image.

Times the public ``core.codecs`` and ``core.hashes`` functions one call
at a time, in the driver process, on a fixed sample of the workload's
own images, in the order the signature UDF calls them. This is the
before/after table a change to a single primitive is judged by; its sum
is the Python share of ``signatures.executor_ms``.
"""

from __future__ import annotations

import statistics
import time

PRIMITIVES = ("decode", "shingle", "minhash", "simhash", "phash", "sha1", "bands")
#: passes over the sample; each primitive reports the median pass
PASSES = 3


def primitive_ms(sample) -> dict[str, float]:
    from mfdedup_spark.config import SignatureConfig
    from mfdedup_spark.core import codecs
    from mfdedup_spark.core.hashes import (
        SignatureTables,
        lsh_band_buckets,
        minhash_signature,
        phash64,
        sha1_hex,
        shingles_for,
        simhash64,
        simhash_bands,
    )

    cfg = SignatureConfig()
    tables = SignatureTables.get(cfg)
    rows = list(sample.itertuples(index=False))
    passes: dict[str, list[float]] = {p: [] for p in PRIMITIVES}
    clock = time.perf_counter
    for _ in range(PASSES):
        acc = dict.fromkeys(PRIMITIVES, 0.0)
        for r in rows:
            t0 = clock()
            px = codecs.decode(r.bytes, int(r.w), int(r.h), r.fmt)
            t1 = clock()
            sh = shingles_for(px.tobytes(), cfg, tables)
            t2 = clock()
            mh = minhash_signature(sh, tables)
            t3 = clock()
            sim = simhash64(sh, int(r.phash), tables)
            t4 = clock()
            phash64(px)
            t5 = clock()
            sha1_hex(r.bytes)
            t6 = clock()
            lsh_band_buckets(mh, tables)
            simhash_bands(sim, cfg.simhash_bands)
            t7 = clock()
            for p, d in zip(PRIMITIVES, (t1 - t0, t2 - t1, t3 - t2, t4 - t3,
                                         t5 - t4, t6 - t5, t7 - t6)):
                acc[p] += d
        for p in PRIMITIVES:
            passes[p].append(acc[p] * 1000.0 / len(rows))
    return {f"core.{p}_ms": statistics.median(v) for p, v in passes.items()}
