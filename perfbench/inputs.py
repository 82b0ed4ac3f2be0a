"""Seeded inputs: the transcripts corpus, split into a base table and file
drops, and the query streams.

The seed picks which conversations the program's own deterministic
generator emits (a seeded offset into its conversation-index space), so a
seed fixes the corpus byte for byte while different seeds give different
texts, turn counts and term statistics.  Query streams are drawn from the
same seed: Zipf-sampled 1–5-term queries over the non-stopword vocabulary
mixed with the fixture branches of the reference ranker.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# corpus shape (conversations; a conversation has 1–12 turns, 6.5 on average)
BASE_CONVS = 400
DROP_CONVS = 40
N_DROPS = 1

# Query-kind shares of a stream.  The repository has no query log, so the
# mix is an assumption, not a measurement:
# - "zipf" (0.80): content-word queries are taken to be the bulk of the
#   traffic; their Zipf head repeats, which is what the decode caches are
#   for, and their tail exceeds the caches' term caps.
# - each fixture branch of the reference ranker (FIXTURES.md section 3)
#   gets 0.04: about ten queries of a 240-query stream, so every branch is
#   exercised and checked in every run, while together (0.20) they stay a
#   minority that does not set the cache hit pattern.
# Term counts of "zipf" queries are uniform over 1-5 for the same reason:
# no length distribution exists to draw from.  A run record holds the
# latency median and sample count of every kind, so a change's effect
# can be read per kind, apart from this mix.
KIND_SHARES = {
    "zipf": 0.80,
    "stopword_only": 0.04,
    "absent": 0.04,
    "punct_case": 0.04,
    "digits": 0.04,
    "repeated": 0.04,
}
ABSENT_WORDS = ("zzzzqqqq", "xyzzynone", "qqvvxx", "wwkkjj")
DIGIT_TOKENS = ("123", "4567", "123456", "987654", "a1b2", "x9")


@dataclass
class Corpus:
    base: pd.DataFrame  # the table the first build indexes
    drops: list[pd.DataFrame]  # later file drops, in order

    @property
    def all(self) -> pd.DataFrame:
        return pd.concat([self.base, *self.drops], ignore_index=True)


def conv_offset(seed: int) -> int:
    """First conversation index for ``seed``; keeps every conv id within
    the 8-digit ``conv-%08d`` form the packed doc key round-trips."""
    return int(np.random.RandomState(seed % 2**32).randint(0, 90_000_000))


def make_corpus(seed: int, base_convs: int = BASE_CONVS,
                drop_convs: int = DROP_CONVS, n_drops: int = N_DROPS) -> Corpus:
    from holi_search_engine_spark.corpus import generate_conversations_pdf, make_vocabulary

    vocab = make_vocabulary()
    off = conv_offset(seed)
    base = generate_conversations_pdf(np.arange(off, off + base_convs), vocab)
    drops = []
    start = off + base_convs
    for _ in range(n_drops):
        drops.append(generate_conversations_pdf(np.arange(start, start + drop_convs), vocab))
        start += drop_convs
    return Corpus(base, drops)


def spark_frame(spark, pdf: pd.DataFrame):
    """Spark needs tz-naive timestamps."""
    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    return spark.createDataFrame(pdf)


def write_drop(pdf: pd.DataFrame, path: str) -> None:
    """One file drop as the streaming source expects it (µs timestamps)."""
    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    pdf.to_parquet(path, coerce_timestamps="us", allow_truncated_timestamps=True)


def _terms():
    from holi_search_engine_spark.corpus import make_vocabulary
    from holi_search_engine_spark.query.stopwords import STOPWORDS

    vocab = make_vocabulary()
    stop = [w for w in vocab if w in STOPWORDS]
    content = [w for w in vocab if w not in STOPWORDS]
    return stop, content


def _stratified(rng, n: int) -> np.ndarray:
    """``n`` uniforms in [0, 1), one in each of ``n`` equal strata, in
    random order: the distribution of ``n`` independent draws, with less
    seed-to-seed spread in what a stream holds, and so in its medians."""
    return rng.permutation((np.arange(n) + rng.random_sample(n)) / n)


def make_queries(seed: int, n: int, stream: str) -> list[tuple[str, str]]:
    """``n`` (kind, query) pairs for ``stream``; the same (seed, stream)
    always gives the same list.  Every seed gives the same number of
    queries of each kind and term count; the terms are drawn from the
    Zipf law by stratified sampling."""
    from holi_search_engine_spark.corpus import zipf_weights

    stream_salt = sum(ord(c) for c in stream) * 7919
    rng = np.random.RandomState((seed * 1_000_003 + stream_salt) % 2**32)
    stop, content = _terms()
    cdf = np.cumsum(zipf_weights(len(content)))  # the corpus's own exponent

    kinds = list(KIND_SHARES)
    counts = [int(round(KIND_SHARES[k] * n)) for k in kinds]
    counts[0] += n - sum(counts)
    # (kind, Zipf terms it takes, stopwords it takes) per query
    sizes = {"zipf": (range(1, 6), [0]), "stopword_only": ([0], range(1, 4)),
             "absent": ([0, 1], [0]), "punct_case": ([2], [0]), "digits": ([0], [0]),
             "repeated": ([2], [0])}
    plan = []
    for kind, c in zip(kinds, counts):
        z, sw = sizes[kind]
        plan += zip([kind] * c, np.resize(list(z), c), np.resize(list(sw), c))
    idx = np.searchsorted(cdf, _stratified(rng, sum(int(z) for _, z, _ in plan)), side="right")
    pool = iter(content[min(i, len(content) - 1)] for i in idx)
    out: list[tuple[str, str]] = []
    for kind, z, sw in plan:
        terms = [next(pool) for _ in range(z)]
        if kind == "zipf":
            q = " ".join(terms)
        elif kind == "stopword_only":
            q = " ".join(rng.choice(stop, size=int(sw), replace=False))
        elif kind == "absent":
            q = " ".join([str(rng.choice(ABSENT_WORDS)), *terms])
        elif kind == "punct_case":
            q = f"{terms[0].capitalize()}, {terms[1].upper()}!"
        elif kind == "digits":
            q = " ".join(rng.choice(DIGIT_TOKENS, size=2, replace=False))
        else:  # repeated
            q = f"{terms[0]} {terms[0]} {terms[1]}"
        out.append((kind, q))
    order = rng.permutation(len(out))
    return [out[i] for i in order]


def make_spark_queries(seed: int, n: int) -> list[str]:
    """Queries for the Spark-job paths: two or three mid-frequency terms
    each (half of each), ranks stratified over the range, so every seed's
    batch costs about the same."""
    rng = np.random.RandomState((seed * 1_000_003 + 17) % 2**32)
    _stop, content = _terms()
    mid = content[50:800]
    sizes = rng.permutation(np.resize([2, 3], n))
    # one term per stratum of the range: distinct terms within a query
    pool = iter(mid[int(u * len(mid))] for u in _stratified(rng, int(sizes.sum())))
    return [" ".join(next(pool) for _ in range(k)) for k in sizes]


def stream_profile(queries: list[tuple[str, str]]) -> dict:
    """Input make-up of a query stream: kind shares and distinct terms."""
    import re

    kinds: dict[str, int] = {}
    terms: set[str] = set()
    for kind, q in queries:
        kinds[kind] = kinds.get(kind, 0) + 1
        terms.update(re.sub(r"[.,:;!?'\"()\-]", " ", q).lower().split())
    return {
        "queries": len(queries),
        "kind_share": {k: round(v / len(queries), 3) for k, v in kinds.items()},
        "distinct_terms": len(terms),
        "distinct_queries": len({q for _, q in queries}),
    }
