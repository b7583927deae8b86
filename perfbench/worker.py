"""One benchmark run inside one Spark driver process.

Started by ``run.py`` in its own process group; writes its result as JSON to
the path given with ``--out``. Steps: generate the seeded inputs, compute the
expected results with DuckDB, start Spark with the pinned settings, set up
(load, build, cache) ``setup_repeats`` times, run one untimed warm-up round,
then run whole rounds of the workload's ops in a closed loop with one client
until ``--seconds`` have passed.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
from tracer import SPARK_COUNTERS, Tracer, catalyst_phases, plan_shape  # noqa: E402

MB = float(1 << 20)
RDD_CLASS_NAME = re.compile(r"^[A-Za-z]*RDD$")
TEMPLATES = ("hop1", "pattern_table", "pattern_motif", "path")


def now() -> float:
    return time.perf_counter()


class Op:
    """One timed call: class, seconds, whether it was right, trace extras."""

    __slots__ = ("cls", "secs", "ok", "extra", "traced")

    def __init__(self, cls, secs, ok, extra, traced):
        self.cls, self.secs, self.ok = cls, secs, ok
        self.extra, self.traced = extra, traced


# --------------------------------------------------------------------- serve

class Serve:
    """Anchored reads on the cached graph plus chained edit sessions.

    A round is hop1, 2-hop pattern, hop1, NEXT_ORDER 1..3 path (the 2:1:1
    mix), then one write. The pattern alternates between the ``table()``
    combinators (even rounds) and the ``match_motif`` string (odd rounds).
    Write ``k`` of a session (k = 1..K, the round's position in the session)
    inserts a batch of edges with back edges on write ``k-1``'s graph, deletes
    write ``k-1``'s batch, and is acknowledged when a hop1 read on the new
    graph returns exactly the new batch. Every session starts again from the
    loaded graph."""

    name = "serve"

    def __init__(self, spark, pins, rng, con, tracer):
        from judy_graph_db_spark.sources.tpch_graph import B, oracle_prefix

        self.spark, self.tracer = spark, tracer
        self.B = B
        self.K = self.block = pins["write_chain_length"]
        self.batch_edges = pins["write_batch_edges"]
        # anchors with the same shape in every seed: customers with 6..9
        # orders, and orders with at least 3 successors in their chain, so a
        # 1..3 path always runs all three levels
        cust = [r[0] for r in con.execute(
            "SELECT o_custkey FROM orders GROUP BY 1"
            " HAVING count(*) BETWEEN 6 AND 9 ORDER BY 1").fetchall()]
        orders = [r[0] for r in con.execute("""
            SELECT o_orderkey FROM (
              SELECT o_orderkey,
                     count(*) OVER (PARTITION BY o_custkey) AS n,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS k
              FROM orders)
            WHERE n - k >= 3 ORDER BY 1""").fetchall()]
        parts = [r[0] for r in con.execute(
            "SELECT p_partkey FROM part ORDER BY 1").fetchall()]
        pick = lambda xs, n: [int(x) for x in rng.choice(xs, n, replace=False)]
        c_ids = [3 * B + c for c in pick(cust, 32)]
        o_ids = [5 * B + o for o in pick(orders, 48)]
        self.hop1_anchors = ([(c, "PLACED") for c in c_ids[:16]]
                             + [(o, "CONTAINS") for o in o_ids[:16]])
        rng.shuffle(self.hop1_anchors)
        self.pattern_anchors = c_ids[16:32]
        self.path_anchors = o_ids[16:48]
        self.write_custs = c_ids[:16]
        self.write_parts = [4 * B + p for p in
                            pick(parts, 2 * self.batch_edges)]
        self.expect = oracle.graph_expectations(
            con, oracle_prefix(), self.hop1_anchors, self.pattern_anchors,
            self.path_anchors)
        self.i = {"hop1": 0, "pattern": 0, "path": 0}
        self.session = 0
        self.g = self.cur = self.prev = None

    def build(self):
        from judy_graph_db_spark.sources.tpch_graph import tpch_graph

        t0 = now()
        g = tpch_graph(self.spark, self.data_dir)
        t1 = now()
        g.edges.cache()
        rows = g.edges.count()
        return g, {"build_s": t1 - t0, "cache_s": now() - t1, "rows": rows}

    def install(self, g):
        self.g = g

    def unpersist(self, g):
        g.edges.unpersist(blocking=True)

    def _next(self, kind, pool):
        x = pool[self.i[kind] % len(pool)]
        self.i[kind] += 1
        return x

    def _count(self, df, extra, template):
        agg = df.groupBy().count()
        with self.tracer.span("spark.collect"):
            n = agg.collect()[0][0]
        if self.tracer.enabled:
            extra.update(catalyst_phases(agg))
            extra["shape"] = plan_shape(agg)
            extra["template"] = template
            extra["rows"] = n
        return n

    def hop1(self, extra):
        from judy_graph_db_spark.operators import adjacency as A

        a, label = self._next("hop1", self.hop1_anchors)
        with self.tracer.span("adjacency.adjacent_nodes_by_attr"):
            df = A.adjacent_nodes_by_attr(self.g, a, label)
        n = self._count(df, extra, "hop1")
        want = self.expect["hop1"][(a, label)]
        return n == want, f"hop1 {a} {label}: {n} != {want}"

    def pattern(self, extra, motif):
        from judy_graph_db_spark import E, N, match_motif, table

        c = self._next("pattern", self.pattern_anchors)
        t0 = now()
        if motif:
            with self.tracer.span("plans.match_motif"):
                df = match_motif(
                    self.g, f"(c={c})-[:PLACED]->(o)-[:CONTAINS]->(p:PART)")
        else:
            with self.tracer.span("plans.table"):
                df = table(self.g, N(ids=[c]) >> E("PLACED", direction="r")
                           >> N() >> E("CONTAINS", direction="r")
                           >> N(labels=["PART"]))
        extra["compile_ms"] = (now() - t0) * 1000
        n = self._count(df, extra,
                        "pattern_motif" if motif else "pattern_table")
        want = self.expect["pattern"][c]
        return n == want, f"pattern {c}: {n} != {want}"

    def path(self, extra):
        from judy_graph_db_spark import E, N, table

        o = self._next("path", self.path_anchors)
        t0 = now()
        with self.tracer.span("plans.table"):
            df = table(self.g, N(ids=[o]) >> E("NEXT_ORDER", direction="r",
                                                several=(1, 3)) >> N())
        extra["compile_ms"] = (now() - t0) * 1000
        n = self._count(df, extra, "path")
        want = self.expect["path"][o]
        return n == want, f"path {o}: {n} != {want}"

    def write(self, extra, k):
        from judy_graph_db_spark.operators import adjacency as A
        from judy_graph_db_spark.operators import mutation as M

        if k == 1:
            self.cur, self.prev = self.g, None
            self.session += 1
        c = self.write_custs[self.session % len(self.write_custs)]
        # consecutive batches use the two disjoint halves of the part list,
        # so deleting the previous batch never touches the new one
        half = self.write_parts[(k % 2) * self.batch_edges:
                                (k % 2 + 1) * self.batch_edges]
        batch = [(c, p, "RATED") for p in half]
        t0 = now()
        with self.tracer.span("mutation.insert_node_edges"):
            g = M.insert_node_edges(self.cur, batch, add_back_edges=True)
        if self.prev is not None:
            with self.tracer.span("mutation.delete_edges"):
                g = M.delete_edges(g, [(s, d) for s, d, _ in self.prev])
        extra["declare_ms"] = (now() - t0) * 1000
        t1 = now()
        with self.tracer.span("adjacency.visible_read"):
            n = A.adjacent_nodes_by_attr(g, c, "RATED").count()
        extra["visible_ms"] = (now() - t1) * 1000
        if self.tracer.enabled:
            extra["plan_chars"] = len(
                g.edges._jdf.queryExecution().logical().toString())
        self.cur, self.prev = g, batch
        return n == len(batch), f"write k={k}: read {n} != {len(batch)}"

    def round_ops(self, r):
        k = r % self.K + 1
        return [
            ("hop1", self.hop1),
            ("pattern", lambda e: self.pattern(e, motif=r % 2 == 1)),
            ("hop1", self.hop1),
            ("path", self.path),
            (f"write_k{k}", lambda e: self.write(e, k)),
        ]

    def round_ms(self, by_cls) -> float:
        """2·hop1 + pattern + path + the mean over chain positions of the
        write medians: one round at the fixed mix, free of class blending."""
        med = lambda c: stats.median(by_cls[c]) * 1000
        writes = [med(f"write_k{k}") for k in range(1, self.K + 1)
                  if by_cls.get(f"write_k{k}")]
        return (2 * med("hop1") + med("pattern") + med("path")
                + sum(writes) / len(writes))


# --------------------------------------------------------------------- batch

class Batch:
    """Whole-graph analytics and the corpus pipeline, one op per call.

    A round is connected_components and transitive_closure on the
    NEXT_ORDER chains, pagerank(iters=3) on the forward edges, then one pass
    of the docs/PIPELINE.md path: web_corpus_funnel → exact_substring_dedup
    → unigram_seed_vocab / wordpiece_vocab_from_pieces → wordpiece_encode →
    emit_training_sequences."""

    name = "batch"
    block = 1

    def __init__(self, spark, pins, rng, con, tracer):
        from judy_graph_db_spark.sources.tpch_graph import B, oracle_prefix

        self.spark, self.tracer, self.B = spark, tracer, B
        self.expect = oracle.analytics_expectations(con, oracle_prefix())
        self.n_docs = pins["n_docs"]
        self.slots = pins["task_slots"]
        domains = rng.choice(37, 2, replace=False)
        self.blocked = tuple(f"d{int(d)}-site.com" for d in domains)
        self.pipeline_ref = None

    def build(self):
        from pyspark.sql import functions as F

        from judy_graph_db_spark.sources.tpch_graph import tpch_graph

        t0 = now()
        g = tpch_graph(self.spark, self.data_dir)
        docs = self.spark.read.parquet(
            os.path.join(self.data_dir, "documents.parquet"))
        t1 = now()
        g.edges.cache()
        rows = g.edges.count()
        docs = docs.withColumn("url", F.concat(
            F.lit("http://d"), (F.col("doc_id") % 37).cast("string"),
            F.lit("-site.com/p/"), F.col("doc_id").cast("string"))
        ).repartition(self.slots).cache()
        docs.count()
        return (g, docs), {"build_s": t1 - t0, "cache_s": now() - t1,
                           "rows": rows}

    def install(self, built):
        from pyspark.sql import functions as F

        self.g, self.docs = built
        self.fwd = self.g.edges.filter(~F.col("is_back"))
        self.chains = self.fwd.filter(
            F.col("label") == "NEXT_ORDER").select("src", "dst")

    def unpersist(self, built):
        built[0].edges.unpersist(blocking=True)
        built[1].unpersist(blocking=True)

    def cc(self, extra):
        from pyspark.sql import functions as F

        from judy_graph_db_spark.operators import analytics as AN

        with self.tracer.span("analytics.connected_components"):
            df = AN.connected_components(self.chains)
            got = tuple(int(x) for x in df.agg(
                F.count("*"), F.sum(F.col("component") - 5 * self.B)
            ).collect()[0])
        return got == self.expect["cc"], f"cc {got} != {self.expect['cc']}"

    def closure(self, extra):
        from pyspark.sql import functions as F

        from judy_graph_db_spark.operators import analytics as AN

        with self.tracer.span("analytics.transitive_closure"):
            df = AN.transitive_closure(self.chains)
            got = tuple(int(x) for x in df.agg(
                F.count("*"), F.sum("depth")).collect()[0])
        want = self.expect["closure"]
        return got == want, f"closure {got} != {want}"

    def pagerank(self, extra):
        from pyspark.sql import functions as F

        from judy_graph_db_spark.operators import analytics as AN

        with self.tracer.span("analytics.pagerank"):
            df = AN.pagerank(self.fwd, iters=3)
            n, s = df.agg(F.count("*"), F.sum(
                F.round(F.col("rank") * 10000).cast("long"))).collect()[0]
        wn, ws = self.expect["pagerank"]
        # rank_e4 rounding can flip a value sitting on a .5 boundary
        ok = n == wn and abs(s - ws) <= max(2, wn // 1000)
        return ok, f"pagerank ({n}, {s}) != ({wn}, {ws})"

    def pipeline(self, extra):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from judy_graph_db_spark.operators import curation as CU
        from judy_graph_db_spark.operators import dedup as D
        from judy_graph_db_spark.operators import unigram as U
        from judy_graph_db_spark.operators import wordpiece as WP

        t0 = now()
        with self.tracer.span("pipeline.funnel"):
            flagged = CU.web_corpus_funnel(
                self.docs, blocked_domains=self.blocked, url_col="url",
                gopher_kwargs={"min_words": 20, "min_stop_hits": 0})
            kept = flagged.filter("keep").select(
                "doc_id", "text").localCheckpoint(eager=True)
            n_kept = kept.count()
        t1 = now()
        with self.tracer.span("pipeline.esd"):
            esd = D.exact_substring_dedup(kept, k=8).localCheckpoint(eager=True)
            removed = esd.agg(F.sum("n_removed_tokens")).collect()[0][0]
            corpus = esd.select("doc_id", F.col("clean_text").alias("text"))
        t2 = now()
        with self.tracer.span("pipeline.vocab"):
            vocab = WP.wordpiece_vocab_from_pieces(U.unigram_seed_vocab(
                corpus, max_piece_len=4, seed_size=256)).withColumn(
                "token_id",
                F.row_number().over(Window.orderBy("piece")).cast("long")
            ).localCheckpoint(eager=True)
            n_vocab = vocab.count()
        t3 = now()
        with self.tracer.span("pipeline.encode_pack"):
            seqs = CU.emit_training_sequences(
                WP.wordpiece_encode(corpus, vocab, max_piece_len=4),
                vocab, seq_len=256)
            n_seq, n_tok, chk = seqs.agg(
                F.count("*"), F.sum("n_tokens"),
                F.sum(F.pmod(F.xxhash64("tokens"), F.lit(1000003)))
            ).collect()[0]
        t4 = now()
        extra.update(funnel_ms=(t1 - t0) * 1000, esd_ms=(t2 - t1) * 1000,
                     vocab_ms=(t3 - t2) * 1000, encode_pack_ms=(t4 - t3) * 1000,
                     keep_ratio=n_kept / self.n_docs)
        got = (n_kept, int(removed or 0), n_vocab, n_seq, int(chk or 0))
        if not (0 < n_kept <= self.n_docs and n_seq > 0
                and n_tok == 256 * n_seq):
            return False, f"pipeline invariants broken: {got}"
        if self.pipeline_ref is None:
            self.pipeline_ref = got
        return got == self.pipeline_ref, f"pipeline {got} != {self.pipeline_ref}"

    def round_ops(self, r):
        return [("cc", self.cc), ("closure", self.closure),
                ("pagerank", self.pagerank), ("pipeline", self.pipeline)]

    def round_ms(self, by_cls) -> float:
        """One full pass: the sum of the four op classes' medians."""
        return sum(stats.median(by_cls[c]) * 1000
                   for c in ("cc", "closure", "pagerank", "pipeline"))


WORKLOADS = {"serve": Serve, "batch": Batch}


# ------------------------------------------------------------------- driver

def run_op(tracer, tally, cls, fn, traced) -> Op:
    extra: dict = {}
    tracer.enabled = traced
    t0, rec = now(), None
    try:
        with tracer.op(cls) as rec:
            ok, why = fn(extra)
    except Exception as e:  # an op that raises is a failed op, not a crash
        ok, why = False, f"{cls} raised {type(e).__name__}: {str(e)[:300]}"
    secs = now() - t0
    tally.record(ok, "" if ok else why)
    if not ok:
        print(f"perfbench: failed op: {why}", file=sys.stderr, flush=True)
    if rec is not None and "spark" in rec:
        extra["spark"] = rec["spark"]
    tracer.enabled = False
    return Op(cls, secs, ok, extra, traced)


def run_round(wl, tracer, tally, r, traced):
    """Run round ``r``; return its ops."""
    return [run_op(tracer, tally, cls, fn, traced)
            for cls, fn in wl.round_ops(r)]


def cached_mb(spark) -> float:
    """Bytes Spark holds for persisted DataFrames (memory + disk).

    A cached DataFrame's blocks are named after its plan; the blocks of an
    RDD-level ``localCheckpoint`` carry the bare RDD class name. Spark frees
    the latter whenever a garbage collection happens to release the last
    reference, so counting them would measure GC timing, not the program."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos
               if not RDD_CLASS_NAME.match(i.name())) / MB


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    t_proc = now()
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)

    data_dir = os.path.join(args.work, "data")
    counts = datagen.generate(data_dir, args.seed, pins["n_orders"],
                              pins["n_docs"])
    con = oracle.connect(data_dir)

    t0 = now()
    from judy_graph_db_spark.session import get_spark

    spark = get_spark("perfbench", shuffle_partitions=pins["shuffle_partitions"])
    spark.sparkContext.setLogLevel("ERROR")
    jvm_s = now() - t0
    tracer = Tracer(spark, False)
    rng = np.random.default_rng([args.seed, 3])
    wl = WORKLOADS[args.workload](spark, pins, rng, con, tracer)
    wl.data_dir = data_dir
    con.close()

    builds = []
    for i in range(pins["setup_repeats"]):
        built, b = wl.build()
        builds.append(b)
        if i < pins["setup_repeats"] - 1:
            wl.unpersist(built)
    wl.install(built)
    setup_cached_mb = cached_mb(spark)
    build_med = stats.median([b["build_s"] + b["cache_s"] for b in builds])

    tally = stats.Tally()
    # one untimed warm-up round: per-op times are still falling after it,
    # but a second round does not fit the run's time budget
    t_warm = now()
    run_round(wl, tracer, tally, 0, False)
    warm_s = now() - t_warm
    setup_s = jvm_s + build_med + warm_s

    # timed phase: whole rounds, at least one block (a whole edit session on
    # serve), and no round that is expected (from the last one) to end after
    # --seconds. A trace run takes
    # twice as long and alternates untraced and traced blocks of rounds
    # (one edit session on serve), so both figures come from the same
    # process at the same stage of warm-up.
    modes = [False, True] if args.trace else [False]
    ops, done = [], dict.fromkeys(modes, 0)
    t_end, last, r = now() + args.seconds * len(modes), 0.0, 0
    while min(done.values()) < wl.block or now() + last <= t_end:
        traced = modes[(r // wl.block) % len(modes)]
        t = now()
        ops.extend(run_round(wl, tracer, tally, r, traced))
        last = now() - t
        done[traced] += 1
        r += 1
    end_cached_mb = cached_mb(spark)
    n_rounds = done[False]

    def e2e(traced_flag):
        by_cls: dict = {}
        for o in ops:
            if o.ok and o.traced == traced_flag:
                by_cls.setdefault(o.cls, []).append(o.secs)
        return {
            "ops_per_s": stats.ops_per_s(
                [x for v in by_cls.values() for x in v]),
            "round_ms": wl.round_ms(by_cls),
        }, by_cls

    plain, by_cls = e2e(False)
    metrics = {"setup_s": setup_s, "cached_mb": end_cached_mb, **plain}
    reads = [s for c in ("hop1", "pattern", "path") for s in by_cls.get(c, [])]
    summary = {
        "workload": wl.name, "seed": args.seed, "rounds": n_rounds,
        "warmup_s": warm_s,
        "jvm_start_s": jvm_s, "build_s": [b["build_s"] + b["cache_s"]
                                          for b in builds],
        "classes": {c: {"p50_ms": stats.median(v) * 1000, "n": len(v)}
                    for c, v in sorted(by_cls.items())},
        "read_tail": _tail(reads),
        "error_rate": tally.error_rate, "errors": tally.reasons,
        "rows": counts, "wall_s": now() - t_proc,
        "java": spark._jvm.System.getProperty("java.version"),
    }
    result = {"correct": tally.failed == 0, "attempted": tally.attempted,
              "failed": tally.failed, "metrics": metrics, "summary": summary}
    if args.trace:
        traced_e2e, t_by_cls = e2e(True)
        result["layers"] = layers(
            pins, ops, builds, jvm_s, setup_cached_mb, t_by_cls,
            traced_e2e["round_ms"] - plain["round_ms"])
        os.makedirs(os.path.join(args.work, "..", "traces"), exist_ok=True)
        tracer.dump(os.path.join(args.work, "..", "traces",
                                 f"{wl.name}-seed{args.seed}.jsonl"))
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


def _tail(xs):
    t = stats.tail(xs) if xs else None
    if t is None:
        return {"reported": False, "n": len(xs)}
    p, v, beyond = t
    return {"percentile": p, "ms": v * 1000, "n_beyond": beyond, "n": len(xs)}


def layers(pins, ops, builds, jvm_s, setup_mb, by_cls, overhead_ms) -> dict:
    """Per-layer figures from the traced rounds. A layer the workload never
    calls reports 0."""
    out: dict = {}
    med = lambda xs: stats.median(xs) if xs else 0.0
    traced = [o for o in ops if o.traced and o.ok]
    out["session.jvm_start_s"] = jvm_s
    out["sources.build_s"] = med([b["build_s"] for b in builds])
    out["sources.edge_rows"] = builds[-1]["rows"]
    out["graph.cache_s"] = med([b["cache_s"] for b in builds])
    out["graph.cached_mb"] = setup_mb
    reads = [o for o in traced if "template" in o.extra]
    out["plans.compile_ms"] = med([o.extra["compile_ms"] for o in reads
                                   if "compile_ms" in o.extra])
    for ph in ("analysis", "optimization", "planning"):
        out[f"plans.{ph}_ms"] = med([o.extra[ph] for o in reads])
    for t in TEMPLATES:
        shapes = [o.extra["shape"] for o in reads if o.extra["template"] == t]
        for k in ("exchanges", "smj", "shj", "bhj"):
            out[f"plans.{k}.{t}"] = shapes[-1][k] if shapes else 0
    hop = [o for o in reads if o.extra["template"] == "hop1"]
    out["adjacency.rows_scanned_per_row"] = med(
        [o.extra["spark"]["input_records"] / max(1, o.extra["rows"])
         for o in hop])
    out["adjacency.tasks_per_query"] = med(
        [o.extra["spark"]["tasks"] for o in hop])
    for k in range(1, pins["write_chain_length"] + 1):
        ws = [o for o in traced if o.cls == f"write_k{k}"]
        out[f"mutation.declare_ms.k{k}"] = med([o.extra["declare_ms"] for o in ws])
        out[f"mutation.plan_chars.k{k}"] = med([o.extra["plan_chars"] for o in ws])
        out[f"mutation.visible_ms.k{k}"] = med([o.extra["visible_ms"] for o in ws])
    for a in ("cc", "closure", "pagerank"):
        xs = [o for o in traced if o.cls == a]
        out[f"analytics.{a}_ms"] = med([o.secs * 1000 for o in xs])
        out[f"analytics.{a}_jobs"] = med([o.extra["spark"]["jobs"] for o in xs])
    pipe = [o for o in traced if o.cls == "pipeline"]
    for k in ("funnel_ms", "esd_ms", "vocab_ms", "encode_pack_ms",
              "keep_ratio"):
        out[f"pipeline.{k}"] = med([o.extra[k] for o in pipe])
    for k in SPARK_COUNTERS:
        if k != "input_records":
            out[f"spark.{k}"] = med([o.extra["spark"][k] for o in traced])
    for c in ("hop1", "pattern", "path"):
        out[f"serve.{c}_p50_ms"] = med(by_cls.get(c, [])) * 1000
    writes = [s for c, v in by_cls.items() if c.startswith("write") for s in v]
    out["serve.write_p50_ms"] = med(writes) * 1000
    out["trace.overhead_ms"] = overhead_ms
    return out


if __name__ == "__main__":
    sys.exit(main())
