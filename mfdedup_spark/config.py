"""Engine configuration.

Signature config is part of fixture identity: dup-pair recall is measured
"at the same shingle/signature config" (BASELINE.json `metric`). All seeds
derive from a single named constant — the precedent is the reference's
MD5-seeded gear matrix (/root/reference/RollHash/Gear.h:14-30), which pins
its rolling-hash table to a reproducible constant.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

#: Named master seed constant (Gear.h precedent: seed material is a fixed
#: string run through a cryptographic hash, not a bare magic number).
MASTER_SEED_NAME = b"MFDEDUP-SPARK-SIGNATURE-V1"


def derive_seed(label: str) -> int:
    """64-bit seed derived from MASTER_SEED_NAME + label via MD5.

    Mirrors the reference's gear-matrix derivation
    (/root/reference/RollHash/Gear.h:14-30: MD5 of a repeated byte, low
    64 bits kept) so every random table in the engine is reproducible
    from one named constant.
    """
    h = hashlib.md5(MASTER_SEED_NAME + b":" + label.encode()).digest()
    return int.from_bytes(h[:8], "little")


@dataclass(frozen=True)
class SignatureConfig:
    """Shingle/MinHash/SimHash/LSH parameters (FIXTURES.md §4)."""

    shingle_k: int = 8          # byte-shingle width; analogue of the
                                # ExpectSize-bounded chunk (ChunkingPipeline.h:19-20)
    shingle_method: str = "cdc" # --ChunkingMethod analogue (ChunkingPipeline.h:
                                # 17-20): "cdc" (word-read + splitmix, FastCDC-
                                # style sampling), "gear" (T2: shifted gear-table
                                # rolling hash), "rabin" (T2: TRUE Rabin
                                # fingerprint over GF(2) mod the reference's
                                # polynomial, rabin_chunking.h:38-39), "fixed"
                                # (T3: non-overlapping stride-k windows)
    shingle_sample_bits: int = 4   # keep shingles whose mixed hash falls in the
                                   # lowest 2^-bits fraction (content-defined
                                   # sampling — the CDC mask idea, FastCDC's
                                   # `(fp & mask)==0` cut rule, ChunkingPipeline.h:
                                   # 70-79, applied to sketch selection). Hash-
                                   # consistent: similar inputs keep the same
                                   # sampled shingles, preserving Jaccard.
    shingle_sample_min: int = 256  # bottom-k floor so small images keep a
                                   # usable sketch (bottom-k sketches are also
                                   # hash-consistent)
    num_perms: int = 64         # MinHash permutations
    lsh_bands: int = 8          # 8 bands ×
    lsh_rows: int = 8           # 8 rows  = 64 components
    simhash_bands: int = 4      # 4 × 16-bit blocking bands for SimHash
    minhash_jaccard_threshold: float = 0.5
    simhash_hamming_threshold: int = 6
    caption_gram_k: int = 3     # word k-grams for caption blocking
    caption_max_grams: int = 32 # blocking-key volume bound: only the m
                                # smallest gram hashes per caption block
                                # (at web scale the gram explosion is
                                # tokens× the corpus; a substring shares
                                # ALL its grams with its host, so the
                                # bottom-m sample keeps recall ~1 for
                                # realistic caption lengths —
                                # test_caption_bounded_recall)
    bucket_cap: int = 256       # max members considered per LSH bucket
                                # (skew guard; drops are logged)
    salt_buckets: int = 16      # salt fan-out for hot-bucket aggregation

    def __post_init__(self) -> None:
        assert self.lsh_bands * self.lsh_rows == self.num_perms
        if self.shingle_method not in ("cdc", "gear", "rabin", "fixed"):
            raise ValueError(f"unknown shingle_method {self.shingle_method!r}")


@dataclass(frozen=True)
class EngineConfig:
    """Run-level config — analogue of the reference's TOML ConfigReader
    (/root/reference/Utility/Config.h:19-33: path templates + retention).
    """

    warehouse: str = "/tmp/mfdedup_spark_warehouse"
    retention: int = 2          # versions kept (build/config.toml:5)
    signature: SignatureConfig = field(default_factory=SignatureConfig)
