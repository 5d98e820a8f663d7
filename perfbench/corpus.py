"""Seeded benchmark inputs: the synthetic pages corpus, its planted
truth, the non-ASCII rendering and the recall scoring.

Every input is a pure function of (size, seed) and is cached as parquet
under the work directory, keyed by both, so a repeated seed skips the
generator (about 1.4 ms per page on a 4-core Xeon).
"""

from __future__ import annotations

import re
import zlib
from collections import defaultdict
from pathlib import Path

import numpy as np
import pandas as pd

# one mega cluster, 5% of the pages: bench.py's 200 members would be a
# fifth of a 1000-page corpus, and the length of its one base text
# would then set much of the run time of each seed
MEGA_CLUSTER = 50
DELTA_SHARE = 0.02  # the incremental probe folds the 2% of pages with the lowest crc32(url)
WARM_SHARE = 0.1  # the warm-up run takes the 10% with the highest: a spread of every page kind


def _write_pages(pages: pd.DataFrame, path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(pages, preserve_index=False)
    # Spark reads microsecond timestamps only
    i = table.schema.get_field_index("warc_ts")
    table = table.set_column(i, "warc_ts", table.column("warc_ts").cast(pa.timestamp("us")))
    path.mkdir(parents=True, exist_ok=True)
    # 8 files: the scan spreads over every core without a repartition
    step = -(-len(pages) // 8)
    for k in range(8):
        pq.write_table(table.slice(k * step, step), path / f"part-{k}.parquet")


def load(cache: Path, pages: int, seed: int) -> dict:
    """Inputs for generate_corpus(pages, seed) with a 50-member mega
    cluster: {'truth': DataFrame} plus, for each rendering ('ascii',
    'multilingual'), parquet dirs of all pages, of the ingest split by
    url hash ('base', 'delta') and of the warm-up sample ('warm')."""
    root = cache / f"pages_n{pages}_s{seed}"
    done = root / "_DONE"
    if not done.exists():
        from epstein_pipeline_spark.synth import generate_corpus

        corpus = generate_corpus(n_pages=pages, seed=seed, mega_cluster_size=MEGA_CLUSTER)
        df = corpus.pages
        # a fixed-size delta: its size does not vary with the seed
        rank = df["url"].map(lambda u: zlib.crc32(u.encode())).rank(method="first")
        is_delta = rank <= round(pages * DELTA_SHARE)
        is_warm = rank > pages - round(pages * WARM_SHARE)
        wmap = word_map(seed)
        ml = df.assign(
            html=[to_multilingual(x, wmap) for x in df["html"]],
            text=[_rewrite_words(x, wmap) for x in df["text"]],
        )
        for name, d in (("ascii", df), ("multilingual", ml)):
            _write_pages(d, root / name / "pages")
            _write_pages(d[~is_delta], root / name / "base")
            _write_pages(d[is_delta], root / name / "delta")
            _write_pages(d[is_warm], root / name / "warm")
        corpus.truth_clusters.to_parquet(root / "truth.parquet", index=False)
        done.touch()
    out = {"truth": pd.read_parquet(root / "truth.parquet")}
    for name in ("ascii", "multilingual"):
        out[name] = {part: str(root / name / part) for part in ("pages", "base", "delta", "warm")}
    return out


# -- scoring (scripts/measure_recall.py's rules) ------------------------------


def score(truth: pd.DataFrame, labels: pd.DataFrame) -> tuple[float, int]:
    """(pair_recall, false_merged_clusters) of predicted labels
    (url, cluster_id) against the planted truth (url, cluster_id).

    Recall: same-truth-cluster pairs that share a predicted label.
    False merge: a predicted multi-member cluster spanning more than one
    truth cluster, or holding a filler page (absent from truth)."""
    m = truth.merge(labels, on="url", how="left", suffixes=("_t", "_p"))
    cell = m.groupby(["cluster_id_t", "cluster_id_p"]).size()
    tp = int(sum(n * (n - 1) // 2 for n in cell))
    tot = int(sum(n * (n - 1) // 2 for n in truth.groupby("cluster_id").size()))
    t_of = dict(zip(truth["url"], truth["cluster_id"]))
    members = defaultdict(list)
    for u, c in zip(labels["url"], labels["cluster_id"]):
        members[c].append(u)
    false_merged = sum(
        1
        for urls in members.values()
        if len(urls) > 1 and len({t_of.get(u, f"filler:{u}") for u in urls}) > 1
    )
    return (tp / tot if tot else 1.0), false_merged


# -- non-ASCII rendering ------------------------------------------------------

_WORD = re.compile(r"[A-Za-z]+")
_TEXT_NODE = re.compile(r">([^<]+)<")
_LATIN = str.maketrans("aeiouncy", "áéíóúñçý")
_CYRILLIC = dict(zip("abcdefghijklmnopqrstuvwxyz", "абцдефгхийклмнопярстужвьызш"))
_CJK = {c: chr(0x4E00 + 37 * i) for i, c in enumerate("abcdefghijklmnopqrstuvwxyz")}


def word_map(seed: int, share: float = 0.3) -> dict[str, str]:
    """Fixed seeded map from a share of the generator's vocabulary to
    non-ASCII spellings (Latin accents, Cyrillic, CJK). Injective, so
    distinct words stay distinct and every planted duplicate class
    keeps its similarity after the rewrite."""
    from epstein_pipeline_spark.synth import _WORDS

    rng = np.random.RandomState(seed)
    out: dict[str, str] = {}
    for w in sorted(set(_WORDS)):
        if rng.rand() >= share:
            continue
        script = rng.randint(3)
        if script == 0:
            s = w.translate(_LATIN)
            s = s if s != w else w + "é"
        elif script == 1:
            s = "".join(_CYRILLIC[c] for c in w)
        else:
            s = "".join(_CJK[c] for c in w)
        out[w] = s
    if len(set(out.values())) != len(out):
        raise RuntimeError("non-ASCII word map is not injective")
    return out


def _rewrite_words(text: str, wmap: dict[str, str]) -> str:
    """Replace mapped words. Lookup is case-insensitive and the output
    lower case, so a case-flipped copy still normalizes to its
    original."""
    return _WORD.sub(lambda m: wmap.get(m.group(0).lower(), m.group(0)), text)


def to_multilingual(html: bytes, wmap: dict[str, str]) -> bytes:
    """Rewrite mapped words in the html text nodes (tags untouched)."""

    def node(m: re.Match) -> str:
        return ">" + _rewrite_words(m.group(1), wmap) + "<"

    return _TEXT_NODE.sub(node, html.decode("utf-8")).encode("utf-8")


def ascii_share(htmls) -> float:
    """Share of docs the extract C chain takes (pure-ASCII html)."""
    htmls = list(htmls)
    return sum(1 for h in htmls if h.isascii()) / max(1, len(htmls))
