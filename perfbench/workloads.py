"""The two workloads.  Each returns a ``Result`` with its end-to-end
metrics, the per-layer metrics of a traced run, operation counts and the
list of failed output checks.

``build`` is the write path: a full index build, then one file drop made
servable by stream -> refresh -> resumable rebuild -> engine reload, then a
query stream on the reloaded engines.  ``query`` is the read path over a
prebuilt index: a closed-loop stream to the in-process engines, sent in
chunks between Spark-job query calls.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

import checks
import common
import inputs
from common import Tracer

POST_DROP_QUERIES = 200  # build: queries on the reloaded engines
SERVE_QUERIES = 240  # query: closed-loop stream, each sent to both engines
SPARK_BATCH = 8  # query: queries per batched Spark call
CHECK_SAMPLE = 50  # distinct stream queries checked against the oracle


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    op_errors: list = field(default_factory=list)
    check_failures: list = field(default_factory=list)  # wrong answers
    info: dict = field(default_factory=dict)

    def op(self, fn, *a, **kw):
        """Run one benchmark operation, counting it; a raised error counts
        as a failed operation and yields None."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as exc:  # noqa: BLE001 - counted and reported
            self.failed += 1
            self.op_errors.append(f"{getattr(fn, '__name__', fn)}: {type(exc).__name__}: {exc}")
            return None

    def check(self, what: str, reason: str | None) -> None:
        if reason is not None:
            self.check_failures.append(f"{what}: {reason}")


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e3


# ------------------------------------------------------------ shared steps


class Ctx:
    def __init__(self, spark, seed: int, tracer: Tracer, probe) -> None:
        from holi_search_engine_spark.corpus import make_vocabulary

        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.probe = probe  # SparkProbe in traced runs, else None
        self.dictionary = frozenset(make_vocabulary())

    def group(self, name: str, counter: str):
        from contextlib import nullcontext

        if self.probe is None:
            return nullcontext()
        return self.probe.group(self.tracer, name, counter)


def build(ctx: Ctx, df, out_dir: str):
    from holi_search_engine_spark.plans.index_build import build_index

    return build_index(ctx.spark, df, out_dir, ctx.dictionary, build_postings_table=False)


def load_engines(ctx: Ctx, paths, preload: bool = True):
    from holi_search_engine_spark.query.bm25 import BM25Engine
    from holi_search_engine_spark.query.ranker import RankerEngine

    tr = ctx.tracer
    with tr.span("ranker.preload"):
        ranker = RankerEngine(ctx.spark, paths, preload=preload)
    with tr.span("bm25.preload"):
        bm25 = BM25Engine(ctx.spark, paths, preload=preload)
    return ranker, bm25


def install_serve_wrappers(tr: Tracer) -> None:
    """In-process query layers (driver-side only: nothing wrapped here is
    shipped to Spark workers)."""
    from holi_search_engine_spark.query import bm25 as bm25_mod
    from holi_search_engine_spark.query import ranker as ranker_mod

    tr.wrap(ranker_mod, "decode_block", "ranker.decode", "ranker.decode_calls")
    tr.wrap(ranker_mod, "java_query_tokens", "javacompat.parse")
    tr.wrap(ranker_mod, "java_hashset_order", "javacompat.parse")
    tr.wrap(ranker_mod.RankerEngine, "paginate", "ranker.envelope")
    tr.wrap(ranker_mod, "gson_dumps", "ranker.envelope")
    tr.wrap(bm25_mod, "block_sweep_topk", "bm25.sweep", "bm25.sweep_calls")
    tr.wrap(bm25_mod.BM25Engine, "search_bruteforce", "bm25.taat")


def install_catalog_wrappers(tr: Tracer) -> None:
    from holi_search_engine_spark.plans import compression, index_build
    from holi_search_engine_spark.query import bm25 as bm25_mod
    from holi_search_engine_spark.query import distributed, ranker as ranker_mod
    from holi_search_engine_spark.sources import catalog

    for mod in (catalog, index_build, compression, ranker_mod, bm25_mod, distributed):
        tr.wrap(mod, "read_table", "catalog.read_table", "catalog.read_table_calls")
    for mod in (catalog, index_build, compression):
        tr.wrap(mod, "write_table", "catalog.write")
    tr.wrap(compression, "build_block_index", "index_build.blocks")
    tr.wrap(distributed, "doc_range_bounds", "distributed.range_bounds")


class ServeLoop:
    """One closed-loop client: each query goes to the ranker (reference
    response body) and then to BM25 top-10; the next query is sent when
    the previous answer is back.  A stream can be sent in chunks spread
    over the run, so that the pooled samples do not all come from one
    few-second window of the host."""

    def __init__(self, ctx: Ctx, res: Result, ranker, bm25) -> None:
        self.ctx, self.res, self.ranker, self.bm25 = ctx, res, ranker, bm25
        self.r_ms: list[float] = []
        self.b_ms: list[float] = []
        self.kinds: list[str] = []  # query kind of each sample
        self.bodies: dict = {}
        self.tops: dict = {}
        self.decoded: list[int] = []
        self.total_blocks: list[int] = []
        self.wall = 0.0

    def send(self, queries) -> None:
        res, ranker, bm25 = self.res, self.ranker, self.bm25
        traced = self.ctx.tracer.enabled
        t_chunk = time.perf_counter()
        for kind, q in queries:
            self.kinds.append(kind)
            t0 = time.perf_counter()
            body = res.op(ranker.search_page_json, q, 1)
            self.r_ms.append(_ms(t0))
            self.bodies.setdefault(q, body)
            before = bm25.blocks_decoded
            t0 = time.perf_counter()
            top = res.op(bm25.search, q, 10)
            self.b_ms.append(_ms(t0))
            self.tops.setdefault(q, top)
            if traced:
                self.decoded.append(bm25.blocks_decoded - before)
                self.total_blocks.append(bm25.total_blocks(q))
        self.wall += time.perf_counter() - t_chunk

    @property
    def n(self) -> int:
        return len(self.r_ms)


def chunks(items: list, k: int) -> list[list]:
    step = -(-len(items) // k)
    return [items[i : i + step] for i in range(0, len(items), step)]


def serve_e2e(res: Result, sp: ServeLoop) -> None:
    for name, ms in (("ranker", sp.r_ms), ("bm25", sp.b_ms)):
        s = common.summarize(ms)
        res.e2e[f"{name}_p50_ms"] = s["p50"]
        res.e2e[f"{name}_tail_ms"] = s["tail"]
        res.info[f"{name}_tail_percentile"] = s["tail_pct"]
        res.info[f"{name}_samples"] = s["n"]
    res.e2e["queries_per_s"] = (len(sp.r_ms) + len(sp.b_ms)) / sp.wall
    # per query kind, so a change can be read apart from the assumed mix
    per_kind: dict = {}
    for kind in sorted(set(sp.kinds)):
        idx = [i for i, k in enumerate(sp.kinds) if k == kind]
        per_kind[kind] = {
            "n": len(idx),
            "ranker_p50_ms": common.median([sp.r_ms[i] for i in idx]),
            "bm25_p50_ms": common.median([sp.b_ms[i] for i in idx]),
        }
    res.info["per_kind"] = per_kind


def serve_layers(tr: Tracer, sp: ServeLoop) -> dict:
    n = sp.n
    dec = sum(sp.decoded)
    tot = sum(sp.total_blocks)
    return {
        "ranker.decode_calls_per_query": tr.counts.get("ranker.decode_calls", 0) / n,
        "ranker.decode_ms_per_query": tr.total("ranker.decode") * 1e3 / n,
        "ranker.envelope_ms": tr.total("ranker.envelope") * 1e3 / n,
        "javacompat.parse_us": tr.total("javacompat.parse") * 1e6 / n,
        "bm25.blocks_decoded_per_query": dec / n,
        "bm25.blocks_total_per_query": tot / n,
        "bm25.decode_ratio": dec / tot if tot else 0.0,
        "bm25.sweep_ms_per_query": tr.total("bm25.sweep") * 1e3 / n,
        "bm25.taat_ms_per_query": tr.total("bm25.taat") * 1e3 / n,
        "bm25.wand_share": tr.counts.get("bm25.sweep_calls", 0) / n,
    }


def results_per_query(ranker, queries) -> float:
    return sum(len(ranker.search(q)) for _, q in queries) / len(queries)


def check_serve(res: Result, oracle, ranker, bm25, sp: ServeLoop) -> None:
    """Sampled distinct stream queries: the timed response body and BM25
    top-10 against the oracle, the full ranked list against
    ``oracle.search``, and the decode-count property."""
    for q in list(sp.bodies)[:CHECK_SAMPLE]:
        if sp.bodies[q] is not None:
            res.check(f"ranker page {q!r}", checks.check_page_json(oracle, q, sp.bodies[q]))
        res.check(f"ranker full {q!r}", checks.check_ranker(oracle, q, ranker.search(q)))
        if sp.tops[q] is not None:
            res.check(f"bm25 {q!r}", checks.check_bm25(oracle, q, sp.tops[q]))
        before = bm25.blocks_decoded
        bm25.search(q, 10)
        if bm25.blocks_decoded - before > bm25.total_blocks(q):
            res.check(f"bm25 blocks {q!r}", "blocks_decoded > total_blocks")


def index_layers(tr: Tracer, paths, build_group: str) -> dict:
    """Build-layer figures from the manifest and the written artifacts."""
    import pyarrow.parquet as pq

    def manifest(stage: str) -> float:
        p = os.path.join(paths.manifest, f"{stage}.json")
        with open(p) as f:
            return float(json.load(f).get("wall_sec", 0.0))

    def rows(path: str) -> int:
        files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    blocks_s = tr.total("index_build.blocks")
    postings = block_postings(paths)
    return {
        "index_build.stage_a_s": manifest("stage_a"),
        "index_build.doc_stats_s": manifest("doc_stats"),
        "index_build.wmetric_s": manifest("wmetric"),
        "index_build.blocks_s": blocks_s,
        "index_build.term_tf_rows": rows(paths.term_tf),
        "index_build.term_tf_bytes": common.dir_bytes(paths.term_tf),
        "index_build.shuffle_write_mb": tr.counts.get(build_group + ".shuffle_mb", 0.0),
        "spark.jobs_per_build": tr.counts.get(build_group, 0),
        "compression.blocks_postings_per_s": postings / blocks_s if blocks_s else 0.0,
        "compression.blocks_bytes": common.dir_bytes(paths.blocks),
        "compression.blocks_n": rows(paths.blocks),
    }


def block_postings(paths, buckets: list[int] | None = None) -> int:
    """Postings stored in the block index (in ``buckets`` only, if given)."""
    import pyarrow.parquet as pq

    blocks = pq.read_table(paths.blocks, columns=["n", "bucket"]).to_pandas()
    if buckets is not None:
        blocks = blocks[blocks["bucket"].isin(buckets)]
    return int(blocks["n"].sum())


def kernel_layers(ctx: Ctx, corpus_pdf, paths) -> dict:
    """Spark-free kernel rates: the tokenizer on fixed in-memory batches
    of the corpus, and block decode over every built block."""
    import pyarrow.parquet as pq

    from holi_search_engine_spark.functions.tokenizer import tokenize_batch
    from holi_search_engine_spark.plans.compression import decode_block

    batch = corpus_pdf[["conv_id", "turn_idx", "text"]].head(2000).reset_index(drop=True)
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        tokenize_batch(batch, ctx.dictionary, ["conv_id", "turn_idx"], with_stats=True)
        rates.append(len(batch) / (time.perf_counter() - t0))
    blocks = pq.read_table(paths.blocks, columns=["doc_bytes", "tf_bytes", "n"])
    docs, tfs = blocks.column("doc_bytes").to_pylist(), blocks.column("tf_bytes").to_pylist()
    n_post = int(blocks.column("n").to_numpy().sum())
    dec = []
    for _ in range(3):
        t0 = time.perf_counter()
        for d, t in zip(docs, tfs):
            decode_block(d, t)
        dec.append(n_post / (time.perf_counter() - t0))
    return {
        "tokenizer.turns_per_s": common.median(rates),
        "compression.decode_postings_per_s": common.median(dec),
    }


# ------------------------------------------------------------ build


def run_build(ctx: Ctx, res: Result, t_process: float) -> None:
    from holi_search_engine_spark.plans.index_build import IndexPaths
    from holi_search_engine_spark.streaming.incremental import (
        refresh_global_stats,
        stream_transcript_deltas,
    )

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("corpus.generate"):
        corpus = inputs.make_corpus(ctx.seed)
    base_df = inputs.spark_frame(spark, corpus.base).cache()
    base_df.count()
    post_queries = inputs.make_queries(ctx.seed, POST_DROP_QUERIES, "post_drop")
    n_base = len(corpus.base)
    text_bytes = int(corpus.base["text"].str.encode("utf-8").str.len().sum())
    res.e2e["setup_s"] = time.perf_counter() - t_process

    install_catalog_wrappers(tr)
    # One round per run: it takes several times --seconds here, and a
    # second round would run on warm engines and change the work.
    t_round = time.perf_counter()
    root = os.path.join(common.WORK, "index")
    t0 = time.perf_counter()
    with tr.span("index_build.build_index"), ctx.group("build", "spark.build_jobs"):
        paths = build(ctx, base_df, root)
    build_s = time.perf_counter() - t0
    index_bytes = common.dir_bytes(root)
    t0 = time.perf_counter()
    with tr.span("trace.probe"):
        layers_base = index_layers(tr, paths, "spark.build_jobs") if tr.enabled else {}
        postings_base = block_postings(paths) if tr.enabled else 0
    t_untimed = time.perf_counter() - t0

    # the file drops, each made servable end to end
    inbox = os.path.join(common.WORK, "inbox")
    os.makedirs(inbox)
    ingest_rates, rebuilt = [], []
    for i, drop in enumerate(corpus.drops):
        blocks_before = set(glob.glob(os.path.join(paths.manifest, "blocks_bucket_*.json")))
        t_drop = time.perf_counter()
        inputs.write_drop(drop, os.path.join(inbox, f"drop_{i}.parquet"))
        with tr.span("ingest.stream"):
            query = res.op(
                stream_transcript_deltas, spark, inbox, paths, ctx.dictionary,
                paths_buckets(paths),
            )
            if query is not None:
                query.awaitTermination()
        invalidated = blocks_before - set(
            glob.glob(os.path.join(paths.manifest, "blocks_bucket_*.json"))
        )
        with tr.span("ingest.refresh"):
            res.op(refresh_global_stats, spark, paths)
        with tr.span("ingest.rebuild"):
            res.op(build, ctx, base_df, root)
        with tr.span("ingest.reload"):
            ranker, bm25 = load_engines(ctx, IndexPaths(root))
            res.op(ranker.search_page_json, post_queries[0][1], 1)
        ingest_rates.append(len(drop) / (time.perf_counter() - t_drop))
        tr.count("ingest.buckets_invalidated", len(invalidated))
        rebuilt = sorted(int(p[-9:-5]) for p in invalidated)

    # The post-drop stream goes out in chunks with the (untimed) oracle
    # build and postings check between them, so its samples span more of
    # the run.  Those steps read only files and the corpus; the checks
    # that query the engines run after the last chunk, so every timed
    # query sees the cache state the stream itself made.
    post = ServeLoop(ctx, res, ranker, bm25)
    oracle: list = []
    between = (
        lambda: oracle.append(checks.Oracle(corpus.all, ctx.dictionary)),
        lambda: res.check("postings", checks.check_postings(
            paths.root, oracle[0], checks.sample_terms(oracle[0], ctx.seed))),
    )
    for j, part in enumerate(chunks(post_queries, len(between) + 1)):
        mark = tr.mark()
        install_serve_wrappers(tr)
        with tr.span("serve"):
            post.send(part)
        tr.unwrap_since(mark)
        if j < len(between):
            t0 = time.perf_counter()
            between[j]()
            t_untimed += time.perf_counter() - t0
    res.e2e["round_s"] = time.perf_counter() - t_round - t_untimed
    check_serve(res, oracle[0], ranker, bm25, post)

    serve_e2e(res, post)
    res.info["build_turns_per_s"] = n_base / build_s
    res.e2e["index_bytes_per_text_byte"] = index_bytes / text_bytes
    res.info.update({
        "base_turns": n_base,
        "drop_turns": [len(d) for d in corpus.drops], "text_bytes": text_bytes,
        "ingest_turns_per_s": ingest_rates, "post_drop_stream": inputs.stream_profile(post_queries),
    })

    if tr.enabled:
        res.layers.update(layers_base)
        res.layers.update(serve_layers(tr, post))
        res.layers["ingest.turns_per_s"] = common.median(ingest_rates)
        for stage in ("stream", "refresh", "rebuild", "reload"):
            res.layers[f"ingest.{stage}_s"] = tr.total(f"ingest.{stage}")
        res.layers["ingest.buckets_invalidated"] = tr.counts.get("ingest.buckets_invalidated", 0)
        res.layers["ingest.reencoded_per_delta_posting"] = reencoded_ratio(paths, postings_base, rebuilt)
        res.layers["ranker.preload_s"] = tr.total("ranker.preload") / max(tr.n_spans("ranker.preload"), 1)
        res.layers["bm25.preload_s"] = tr.total("bm25.preload") / max(tr.n_spans("bm25.preload"), 1)
        res.layers["ranker.results_per_query"] = results_per_query(ranker, post_queries)
        tr.unwrap_all()
        res.layers.update(kernel_layers(ctx, corpus.base, paths))
        pagerank_probe(ctx, res, paths, corpus)


def paths_buckets(paths) -> int:
    from holi_search_engine_spark.plans.index_build import read_meta

    return read_meta(paths)["buckets"]


def reencoded_ratio(paths, postings_base: int, rebuilt: list[int]) -> float:
    """Postings the rebuild re-encoded (every posting in the rebuilt
    buckets) per posting the drop added."""
    delta = block_postings(paths) - postings_base
    return block_postings(paths, rebuilt) / delta if delta > 0 else 0.0


def pagerank_probe(ctx: Ctx, res: Result, paths, corpus) -> None:
    """build_reply_pagerank on the maintained index, checked against the
    package's Spark-free iteration of the reference update rule."""
    from holi_search_engine_spark.plans.pagerank import build_reply_pagerank

    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("pagerank"), ctx.group("pagerank", "spark.pagerank_jobs"):
        out = res.op(build_reply_pagerank, ctx.spark, paths)
    res.layers["pagerank.s"] = time.perf_counter() - t0
    res.layers["pagerank.spark_jobs"] = tr.counts.get("spark.pagerank_jobs", 0)
    if out is not None:
        keys = [checks.doc_key(d) for d in zip(corpus.all["conv_id"], corpus.all["turn_idx"])]
        res.check("pagerank", checks.check_pagerank(out, keys))


# ------------------------------------------------------------ query


def run_query(ctx: Ctx, res: Result, t_process: float) -> None:
    from holi_search_engine_spark.query.bm25 import BM25Engine
    from holi_search_engine_spark.query.distributed import (
        DistributedRanker,
        distributed_bm25_local_topk_many,
        distributed_bm25_topk,
        distributed_bm25_topk_many,
    )

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("corpus.generate"):
        corpus = inputs.make_corpus(ctx.seed, n_drops=0)
    base_df = inputs.spark_frame(spark, corpus.base).cache()
    base_df.count()
    n_base = len(corpus.base)
    text_bytes = int(corpus.base["text"].str.encode("utf-8").str.len().sum())
    install_catalog_wrappers(tr)
    root = os.path.join(common.WORK, "index")
    t0 = time.perf_counter()
    with tr.span("index_build.build_index"), ctx.group("build", "spark.build_jobs"):
        paths = build(ctx, base_df, root)
    build_s = time.perf_counter() - t0
    index_bytes = common.dir_bytes(root)
    ranker, bm25 = load_engines(ctx, paths)
    with tr.span("bm25.preload"):
        pruned_bm25 = BM25Engine(spark, paths, preload=False)
    stream = inputs.make_queries(ctx.seed, SERVE_QUERIES, "serve")
    sq = inputs.make_spark_queries(ctx.seed, SPARK_BATCH)
    res.e2e["setup_s"] = time.perf_counter() - t_process

    # Spark-job paths.  The first batch query also goes through the
    # single-query paths, so batch and single answers can be compared.
    # The round holds the two cheapest; the single distributed BM25 call
    # and the ranker's batch plan (3-12 s each here) run in the traced run
    # only, after the round, to keep every run inside the time budget.
    q0 = sq[0]
    spark_ops = (
        ("pruned_bm25", lambda: pruned_bm25.search(q0, 10)),
        ("batch_bm25", lambda: distributed_bm25_topk_many(spark, paths, sq, 10)),
    )
    probe_ops = (
        ("dist_bm25", lambda: distributed_bm25_topk(spark, paths, q0, 10)),
        ("batch_ranker", lambda: DistributedRanker(spark, paths).search_many(sq)),
    )
    lat: dict[str, list] = {name: [] for name, _ in spark_ops + probe_ops}
    answers: dict = {}

    def call(name, fn) -> None:
        calls0 = tr.counts.get("catalog.read_table_calls", 0)
        t0 = time.perf_counter()
        with tr.span(f"spark.{name}"), ctx.group(name, f"spark.jobs.{name}"):
            answers[name] = res.op(fn)
        lat[name].append(_ms(t0))
        tr.count(f"spark.read_table.{name}", tr.counts.get("catalog.read_table_calls", 0) - calls0)

    # One round per run, as on build.  The serve stream goes out in
    # chunks between the Spark calls.
    sp = ServeLoop(ctx, res, ranker, bm25)
    t_round = time.perf_counter()
    for i, part in enumerate(chunks(stream, len(spark_ops) + 1)):
        mark = tr.mark()
        install_serve_wrappers(tr)
        with tr.span("serve"):
            sp.send(part)
        tr.unwrap_since(mark)
        if i < len(spark_ops):
            call(*spark_ops[i])
    res.e2e["round_s"] = time.perf_counter() - t_round

    serve_e2e(res, sp)
    res.info["build_turns_per_s"] = n_base / build_s
    res.e2e["index_bytes_per_text_byte"] = index_bytes / text_bytes
    res.info.update({
        "base_turns": n_base, "text_bytes": text_bytes,
        "serve_stream": inputs.stream_profile(stream), "spark_queries": sq,
        "spark_ms": {k: common.median(v) for k, v in lat.items() if v},
    })

    if tr.enabled:
        for op in probe_ops:
            call(*op)
        res.layers.update(index_layers(tr, paths, "spark.build_jobs"))
        res.layers.update(serve_layers(tr, sp))
        res.layers["ranker.preload_s"] = tr.total("ranker.preload") / max(tr.n_spans("ranker.preload"), 1)
        res.layers["bm25.preload_s"] = tr.total("bm25.preload") / max(tr.n_spans("bm25.preload"), 1)
        for k in ("pruned_bm25", "dist_bm25"):
            res.layers[f"spark.{k}_p50_ms"] = common.median(lat[k])
            res.layers[f"spark.jobs_per_query.{k}"] = tr.counts.get(f"spark.jobs.{k}", 0) / len(lat[k])
        for k in ("ranker", "bm25"):
            ms = lat[f"batch_{k}"]
            res.layers[f"spark.batch_{k}_queries_per_s"] = len(sq) * 1e3 / common.median(ms)
            res.layers[f"spark.jobs_per_batch.{k}"] = tr.counts.get(f"spark.jobs.batch_{k}", 0) / len(ms)
        res.layers["bm25.read_table_calls_per_query"] = (
            tr.counts.get("spark.read_table.pruned_bm25", 0) / len(lat["pruned_bm25"])
        )
        n_bounds = len(lat["dist_bm25"]) + len(lat["batch_bm25"])
        res.layers["distributed.range_bounds_ms"] = tr.total("distributed.range_bounds") * 1e3 / n_bounds
        res.layers["distributed.batch_shuffle_mb"] = (
            tr.counts.get("spark.jobs.batch_ranker.shuffle_mb", 0)
            + tr.counts.get("spark.jobs.batch_bm25.shuffle_mb", 0)
        ) / len(lat["batch_bm25"])
        res.layers["ranker.results_per_query"] = results_per_query(ranker, stream[:CHECK_SAMPLE])
        tr.unwrap_all()
        local = distributed_bm25_local_topk_many(spark, paths, sq, 10)
        res.layers["distributed.local_topk_rows_per_batch"] = local.count() if local is not None else 0
        res.layers.update(kernel_layers(ctx, corpus.base, paths))

    # output checks
    oracle = checks.Oracle(corpus.base, ctx.dictionary)
    check_serve(res, oracle, ranker, bm25, sp)
    res.check("postings", checks.check_postings(paths.root, oracle, checks.sample_terms(oracle, ctx.seed)))
    if answers.get("pruned_bm25") is not None:
        res.check("pruned bm25", checks.check_bm25(oracle, q0, answers["pruned_bm25"]))
    if answers.get("dist_bm25") is not None:
        res.check("dist bm25", checks.check_bm25(oracle, q0, answers["dist_bm25"]))
    many = answers.get("batch_ranker")
    if many is not None:
        for i, q in enumerate(sq):
            res.check(f"batch ranker {q!r}", checks.check_ranker(oracle, q, many[many["query_id"] == i]))
        res.check("batch ranker = single", checks.check_batch_equals_single(many, [ranker.search(q0)]))
    many = answers.get("batch_bm25")
    if many is not None:
        for i, q in enumerate(sq):
            res.check(f"batch bm25 {q!r}", checks.check_bm25(oracle, q, many[many["query_id"] == i]))
        if answers.get("pruned_bm25") is not None:
            res.check("batch bm25 = single", checks.check_batch_equals_single(many, [answers["pruned_bm25"]]))


WORKLOADS = {"build": run_build, "query": run_query}

# Per-layer metrics of layers a workload does not run.  They read 0 in its
# traced run; any other per-layer metric it does not produce is an error.
NOT_RUN = {
    "build": frozenset({
        "spark.jobs_per_query.pruned_bm25", "spark.jobs_per_query.dist_bm25",
        "spark.jobs_per_batch.ranker", "spark.jobs_per_batch.bm25",
        "spark.pruned_bm25_p50_ms", "spark.dist_bm25_p50_ms",
        "spark.batch_ranker_queries_per_s", "spark.batch_bm25_queries_per_s",
        "bm25.read_table_calls_per_query", "distributed.range_bounds_ms",
        "distributed.local_topk_rows_per_batch", "distributed.batch_shuffle_mb",
    }),
    "query": frozenset({
        "pagerank.s", "pagerank.spark_jobs",
        "ingest.turns_per_s", "ingest.stream_s", "ingest.refresh_s", "ingest.rebuild_s",
        "ingest.reload_s", "ingest.buckets_invalidated", "ingest.reencoded_per_delta_posting",
    }),
}
