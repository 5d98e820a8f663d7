"""Engine configuration.

Mirrors the reference's dedup settings (``/root/reference/src/
epstein_pipeline/config.py:80-87``) so cluster assignments are comparable
at the same shingle/signature config:

    dedup_threshold        = 0.90   (title fuzzy match)
    dedup_jaccard_threshold= 0.80
    dedup_semantic_threshold=0.95
    dedup_shingle_size     = 5
    dedup_num_perm         = 128

Banding (b=16, r=8) matches datasketch's optimal integration for
threshold 0.8 at 128 perms (reference processors/dedup.py:367-377 lets
datasketch pick; we pin it explicitly for recall parity).
"""

from __future__ import annotations

from dataclasses import dataclass

SIMHASH_BITS = 64  # the signature width make_simhash_udf emits; bands
# and the similarity score 1 - d/SIMHASH_BITS are defined over it


@dataclass(frozen=True)
class DedupConfig:
    # -- MinHash / LSH (reference config.py:84-87) --
    shingle_k: int = 5
    num_perm: int = 128
    bands: int = 16
    rows_per_band: int = 8
    jaccard_threshold: float = 0.80
    minhash_min_len: int = 100  # reference dedup.py:346-350 gate
    minhash_seed: int = 1

    # -- SimHash Hamming-ball (north_rule stage 2) --
    simhash_bands: int = 4  # 4 x 16-bit bands of the 64-bit signature
    hamming_max: int = 3  # pairs with d<=3 share >=1 band (pigeonhole)
    simhash_min_len: int = 50  # reference dedup.py:422-423 gate

    # -- semantic / embedding pass (reference dedup.py:404-464) --
    semantic_threshold: float = 0.95
    semantic_truncate: int = 2000  # reference embeds text[:2000]

    # -- fuzzy title pass (reference dedup.py:296-324) --
    title_fuzzy_threshold: float = 0.90

    # -- LCS verification (north_rule stage 3) --
    lcs_min_ratio: float = 0.60  # LCS >= ratio * min(len) accepts the edge
    lcs_gray_low: float = 0.55  # minhash gray zone [gray_low, jaccard)
    # is LCS-checked: boilerplate-wrapped dups have depressed Jaccard
    # but a giant common substring (the body)
    lcs_max_chars: int = 4000  # truncate before LCS for bounded cost

    # -- skew / scale guards --
    band_bucket_cap: int = 500  # LSH buckets above this emit chain+star
    # pairs (O(n)) instead of all-pairs (O(n^2)); preserves connectivity.
    fuzzy_block_cap: int = 2000  # blocked fuzzy joins (title first-word
    # blocks, entity-resolution name blocks) use the same chain+star
    # guard above this block size — the splink_max_pairs memory-guard
    # analog (reference config.py:130); 2000 keeps every tested scale
    # on the exact all-pairs path.
    cc_checkpoint_every: int = 3  # cut lineage in the CC loop
    cc_max_iters: int = 50
    ingest_broadcast_max_rows: int = 2_000_000  # incremental ingest
    # broadcasts delta-derived key sets (band keys, hashes, touched
    # urls/cluster ids) only while the committed delta is at/under this
    # row count; a backfill-sized delta would blow the broadcast limit
    # and driver memory, so past it every such join degrades to a
    # shuffled semi/equi join (plans/incremental.py). 2M rows of band
    # keys is ~32M short rows broadcast-side worst case — well inside
    # the 8 GB hard limit; 0 forces the shuffled path.

    # -- misc --
    salt_buckets: int = 8  # CC star-join hot-root salting factor
    # (operators/cc.py::_salted_join — the north rule's salted keys for
    # host-domain / mega-cluster skew; 1 disables)
    salt_min_pairs: int = 2_000_000  # salt only when the edge list is
    # big enough for a hub to dominate one task; below this the salt's
    # per-round replicate/explode overhead exceeds any skew it removes
    salt_hot_degree: int = 500_000  # differentiated salting: only
    # roots at/above this degree are salted (their min-label rows
    # replicate x salt_buckets); colder keys join unsalted, so the
    # salt overhead scales with the hub count, not the node count

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError("bands * rows_per_band must equal num_perm")
        if SIMHASH_BITS % self.simhash_bands != 0:
            raise ValueError(f"simhash_bands must divide the {SIMHASH_BITS} signature bits")


DEFAULT_CONFIG = DedupConfig()
