"""Output checks computed apart from the engine.

Expected answers come from the package's loop-style oracle
(``oracle/pandas_oracle.py``, which shares no code with the engine's
vectorized paths), from its Spark-free PageRank iteration
(``plans/pagerank.py`` ``pagerank_python``), and from computations written
here: an exhaustive BM25 over the oracle's postings and an independent
varbyte decoder for the stored blocks.  Nothing is stored, so
there are no expected-answer files to regenerate: every run derives its
expectations from its own seeded inputs.

Every checker returns ``None`` when the answer is right, else a short
reason.
"""

from __future__ import annotations

import math
import re

ATOL = 1e-9
K1 = 1.2  # documented BM25 knobs (plans/compression.py)
B = 0.75
TURN_BITS = 6  # doc_key = conv_num << 6 | turn_idx
_PUNCT = re.compile(r"[.,:;!?'\"()\-]")


def doc_key(doc) -> int:
    conv_id, turn = doc
    return (int(conv_id[5:]) << TURN_BITS) | int(turn)


def _close(a: float, b: float, atol: float = ATOL) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return abs(a - b) <= atol  # False for a lone NaN


# ------------------------------------------------------------ ranking


def rank_check(expected: list[tuple], got: list[tuple], atol: float = ATOL) -> str | None:
    """Full ranked lists of (doc, score): same docs, per-doc scores within
    ``atol``, and ``got`` non-increasing in the expected scores up to
    ``atol`` — the near-tie rule of ``scripts/soak_distributed.py``
    (1-ulp summation-order swaps are legal; a misplaced doc is not)."""
    if len(expected) != len(got):
        return f"len {len(got)} != {len(expected)}"
    es = {d: float(s) for d, s in expected}
    if set(es) != {d for d, _ in got}:
        return "docset"
    for d, s in got:
        if not _close(es[d], float(s), atol):
            return f"score {d}: {s} != {es[d]}"
    seq = [es[d] for d, _ in got]
    for i in range(len(seq) - 1):
        if seq[i] < seq[i + 1] - atol:
            return f"order at {i}"
    return None


def topk_check(expected: dict, got: list[tuple], k: int, atol: float = ATOL) -> str | None:
    """``got`` is a correct top-k of the exhaustive ``expected`` scores
    (doc -> score): min(k, n) distinct docs, scores within ``atol``,
    non-increasing, none below the k-th best, and every doc that beats
    the k-th best by more than ``atol`` present."""
    want = min(k, len(expected))
    if len(got) != want:
        return f"len {len(got)} != {want}"
    docs = [d for d, _ in got]
    if len(set(docs)) != len(docs):
        return "duplicate doc"
    for d, s in got:
        if d not in expected:
            return f"unexpected doc {d}"
        if not _close(expected[d], float(s), atol):
            return f"score {d}: {s} != {expected[d]}"
    seq = [expected[d] for d in docs]
    for i in range(len(seq) - 1):
        if seq[i] < seq[i + 1] - atol:
            return f"order at {i}"
    if want:
        kth = sorted(expected.values(), reverse=True)[want - 1]
        if min(seq) < kth - atol:
            return "doc below the k-th score"
        must = {d for d, s in expected.items() if s > kth + atol}
        if not must <= set(docs):
            return "missing a top doc"
    return None


def nonincreasing(scores: list[float], atol: float = ATOL) -> bool:
    return all(scores[i] >= scores[i + 1] - atol for i in range(len(scores) - 1))


# ------------------------------------------------------------ oracle


class Oracle:
    """The loop-style oracle index over a list of transcripts, plus the
    per-doc lengths and document frequencies BM25 needs."""

    def __init__(self, pdf, dictionary, static_rank: dict | None = None) -> None:
        from holi_search_engine_spark.oracle import pandas_oracle as O

        self.O = O
        docs = [((c, int(t)), x) for c, t, x in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"])]
        self.index = O.build_index(docs, dictionary)
        if static_rank:
            self.index.static_rank = dict(static_rank)
        self.dl: dict = {}
        for term, plist in self.index.postings.items():
            for d, tf in plist:
                self.dl[d] = self.dl.get(d, 0) + tf
        self.n_docs = len(docs)
        self.avgdl = sum(self.dl.values()) / max(len(self.dl), 1)

    # reference ranker -------------------------------------------------
    def ranked(self, query: str) -> list[tuple]:
        return [(c.doc, c.score()) for c in self.O.search(self.index, query)]

    # BM25 --------------------------------------------------------------
    def bm25_scores(self, query: str) -> dict:
        terms = list(dict.fromkeys(_PUNCT.sub(" ", query).lower().split()))
        acc: dict = {}
        for t in terms:
            plist = self.index.postings.get(t)
            if not plist:
                continue
            df = len(plist)
            idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            for d, tf in plist:
                norm = 1.0 - B + B * self.dl[d] / self.avgdl
                acc[d] = acc.get(d, 0.0) + idf * tf * (K1 + 1.0) / (tf + K1 * norm)
        return acc


def ranker_frame_pairs(pdf) -> list[tuple]:
    """(doc, score) pairs of a result frame, in its row order."""
    return [((c, int(t)), float(s)) for c, t, s in zip(pdf["conv_id"], pdf["turn_idx"], pdf["score"])]


def check_ranker(oracle: Oracle, query: str, pdf) -> str | None:
    """Full ranked result of a ranker path against ``oracle.search``."""
    got = ranker_frame_pairs(pdf)
    if not nonincreasing([s for _, s in got if not math.isnan(s)]):
        return "scores increase"
    return rank_check(oracle.ranked(query), got)


def check_page_json(oracle: Oracle, query: str, body: str) -> str | None:
    """Page 1 of the reference's response body against the oracle: the
    page count, the ten best docs (near-ties allowed) and their
    title/page_head fields."""
    import json

    exp = oracle.ranked(query)
    pages = (len(exp) + 9) // 10
    if not exp:
        return None if body == "" else "non-empty body for an empty result"
    env = json.loads(body)
    if env.get("page") != 1 or env.get("totalPages") != pages:
        return f"envelope page={env.get('page')} totalPages={env.get('totalPages')} != {pages}"
    got = []
    for row in env["results"]:
        conv, turn = row["url"].rsplit(":", 1)
        d = (conv, int(turn))
        if row.get("title") != oracle.index.titles.get(d) or row.get("page_head") != oracle.index.snippets.get(d):
            return f"title/page_head of {d}"
        got.append(d)
    es = dict(exp)
    if any(d not in es for d in got):
        return "doc outside the oracle's ranking"
    return topk_check(es, [(d, es[d]) for d in got], 10)


def check_bm25(oracle: Oracle, query: str, pdf, k: int = 10) -> str | None:
    return topk_check(oracle.bm25_scores(query), ranker_frame_pairs(pdf), k)


def check_batch_equals_single(batch_pdf, singles: list) -> str | None:
    """Rows of ``query_id`` i in a batch answer equal the single-query
    answer ``singles[i]``: same docs, scores within ATOL, near-tie order."""
    for qid, single in enumerate(singles):
        part = batch_pdf[batch_pdf["query_id"] == qid]
        why = rank_check(ranker_frame_pairs(single), ranker_frame_pairs(part))
        if why is not None:
            return f"query {qid}: {why}"
    return None


# ------------------------------------------------------------ artifacts


def varbyte(buf: bytes) -> list[int]:
    """LEB128 decode, one byte at a time."""
    out, cur, shift = [], 0, 0
    for byte in buf:
        cur |= (byte & 0x7F) << shift
        if byte & 0x80:
            shift += 7
        else:
            out.append(cur)
            cur, shift = 0, 0
    return out


def check_postings(index_root: str, oracle: Oracle, terms: list[str]) -> str | None:
    """Decoded postings and df of sampled terms equal the oracle's (df
    stored with the reference's +1)."""
    import os

    import pyarrow.parquet as pq

    blocks = pq.read_table(
        os.path.join(index_root, "blocks"),
        columns=["term", "block_no", "n", "key_min", "key_max", "doc_bytes", "tf_bytes"],
        filters=[("term", "in", terms)],
    ).to_pylist()
    wm = pq.read_table(
        os.path.join(index_root, "wmetric"), filters=[("term", "in", terms)]
    ).to_pylist()
    df_of = {r["term"]: r["df"] for r in wm}
    by_term: dict[str, list] = {}
    for r in blocks:
        by_term.setdefault(r["term"], []).append(r)
    for t in terms:
        exp = [(doc_key(d), tf) for d, tf in oracle.index.postings.get(t, [])]
        exp.sort()
        got = []
        for r in sorted(by_term.get(t, []), key=lambda r: r["block_no"]):
            gaps, tfs = varbyte(r["doc_bytes"]), varbyte(r["tf_bytes"])
            keys = []
            acc = 0
            for g in gaps:
                acc += g
                keys.append(acc)
            if len(keys) != r["n"] or not keys or keys[0] != r["key_min"] or keys[-1] != r["key_max"]:
                return f"block metadata of {t!r} #{r['block_no']}"
            got.extend(zip(keys, tfs))
        if got != exp:
            return f"postings of {t!r}: {len(got)} decoded vs {len(exp)} expected"
        want_df = len(exp) + 1 if exp else None
        if df_of.get(t) != want_df:
            return f"df of {t!r}: {df_of.get(t)} != {want_df}"
    return None


def check_pagerank(path: str, doc_keys) -> str | None:
    """Stored ranks against the package's Spark-free iteration of the
    reference update rule (``plans.pagerank.pagerank_python``) over the
    reply graph, turn i -> turn i-1, built here from the corpus keys."""
    import pyarrow.parquet as pq

    from holi_search_engine_spark.plans.pagerank import pagerank_python

    mask = (1 << TURN_BITS) - 1
    edges = sorted({(int(k), int(k) - 1) for k in doc_keys if int(k) & mask})
    exp = pagerank_python(edges)
    got = {r["doc_key"]: r["rank"] for r in pq.read_table(path).to_pylist()}
    if set(got) != set(exp):
        return f"vertex set: {len(got)} ranked vs {len(exp)} expected"
    for k, v in exp.items():
        if not _close(got[k], v):
            return f"rank of {k}: {got[k]} != {v}"
    return None


def sample_terms(oracle: Oracle, seed: int, n: int = 24) -> list[str]:
    """Head, middle and tail terms by document frequency."""
    import numpy as np

    by_df = sorted(oracle.index.postings, key=lambda t: (-len(oracle.index.postings[t]), t))
    rng = np.random.RandomState(seed % 2**32)
    third = max(len(by_df) // 3, 1)
    picks = list(by_df[:4])
    for lo, hi in ((third, 2 * third), (2 * third, len(by_df))):
        picks += [by_df[i] for i in rng.randint(lo, max(hi, lo + 1), size=(n - 4) // 2)]
    return sorted(set(picks))
