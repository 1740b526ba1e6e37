"""The benchmark workloads: closed loops with one client, each op waiting
for its reply, driven only through ``emodb_spark``'s public API.

Each workload stages its generated inputs, warms the session, runs ops
until the deadline, then checks the program's outputs against a
reference computed outside the engine (pure-Python ``Resolver`` folds
and closed-form labels). A workload's ``PRIMARY`` and ``SECONDARY``
map op kinds to their share of the group; kinds in neither are run and
checked but not reported end to end.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple

from . import gen
from .trace import Tracer


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    params: gen.Params
    tracer: Tracer
    trace: bool
    rng: random.Random = None
    samples: Dict[str, List[Tuple[float, bool]]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: List[str] = field(default_factory=list)
    layer: Dict[str, list] = field(default_factory=dict)
    last_traced: bool = False
    sequence: List[tuple] = field(default_factory=list)
    cpu: Dict[str, List[Tuple[float, bool]]] = field(default_factory=dict)

    def __post_init__(self):
        self.rng = random.Random(self.seed)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def run_op(self, kind: str, fn: Callable[[], object]):
        """Time one op of ``kind``: wall time, and CPU time of the whole
        process tree (benchmark process, JVM, Python workers). In the
        traced run every other op of each kind is traced, so the
        traced/untraced gap measures the tracing overhead."""
        traced = self.trace and len(self.samples.get(kind, ())) % 2 == 0
        with self.tracer.op(kind, traced):
            c0 = tree_cpu()
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            cpu = cpu_between(c0, tree_cpu())
        self.attempted += 1
        self.samples.setdefault(kind, []).append((dt, traced))
        self.cpu.setdefault(kind, []).append((cpu, traced))
        self.sequence.append((kind, round(dt * 1e3, 1), round(cpu * 1e3), traced))
        self.last_traced = traced
        return out

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def note(self, name: str, value: float) -> None:
        """A per-layer observation (traced run only)."""
        self.layer.setdefault(name, []).append(value)


_CLK_TCK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(stat_path: str) -> Tuple[int, int]:
    """(session id, CPU ticks) of a process or thread."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[3]), int(fields[11]) + int(fields[12])


def tree_cpu() -> Dict[Tuple[int, int], int]:
    """CPU ticks used so far by each live process of this session (the
    benchmark process, every Python worker) and by each live JVM thread
    except the JIT compilers, which compile for the first minutes of any
    JVM whatever the op. Unlike wall time, CPU time does not grow while
    the host runs other tenants."""
    sid, out = os.getsid(0), {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        pid = int(d)
        try:
            psid, ticks = _cpu_ticks(f"/proc/{d}/stat")
            if psid != sid:
                continue
            with open(f"/proc/{d}/comm") as f:
                if f.read().strip() != "java":
                    out[(pid, 0)] = ticks
                    continue
            for tid in os.listdir(f"/proc/{d}/task"):
                with open(f"/proc/{d}/task/{tid}/comm") as f:
                    if not f.read().startswith(JIT_THREADS):
                        out[(pid, int(tid))] = _cpu_ticks(f"/proc/{d}/task/{tid}/stat")[1]
        except OSError:  # the process or thread ended while being read
            continue
    return out


def cpu_between(before: Dict[Tuple[int, int], int],
                after: Dict[Tuple[int, int], int]) -> float:
    """CPU seconds the session spent between two snapshots, compared
    process by process (thread by thread in the JVM): one that started
    counts whole, one that ended is dropped. Summing reaped children's or
    exited threads' totals instead would add a long-lived worker's whole
    life to whichever op saw it end."""
    return sum(t - before.get(k, 0) for k, t in after.items()) / _CLK_TCK


def _ticks(cid: str) -> int:
    return int(cid[15:18] + cid[9:13] + cid[0:8], 16)


def reference_fold(rows) -> Dict[Tuple[str, str], dict]:
    """Pure-Python fold of log rows ``(tbl, key, change_id, delta)``."""
    from emodb_spark.core.resolver import Resolver
    from emodb_spark.language.values import UNDEFINED

    by_key: Dict[Tuple[str, str], list] = {}
    for tbl, key, cid, delta in rows:
        by_key.setdefault((tbl, key), []).append((_ticks(cid), cid, delta))
    out = {}
    for (tbl, key), ds in by_key.items():
        r = Resolver(tbl, key)
        for _t, cid, delta in sorted(ds):
            r.update(cid, delta, ())
        res = r.resolved()
        out[(tbl, key)] = {
            "content": None if res.content is UNDEFINED else res.content,
            "version": res.version,
            "signature": res.signature,
            "deleted": res.deleted,
        }
    return out


def _doc(content: Optional[str], version, deleted, signature=None) -> dict:
    d = {"content": None if content is None else json.loads(content),
         "version": int(version), "deleted": bool(deleted)}
    if signature is not None:
        d["signature"] = signature
    return d


def _files(path: str) -> Dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def _log_cols(df):
    return df.select("tbl", "key", "change_id", "delta", "tags")


class Part:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.p = ctx.params


class Workload(Part):
    PRIMARY: Dict[str, float] = {}
    SECONDARY: Dict[str, float] = {}

    def stage(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def loop(self, deadline: float) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def wrap(self, tr: Tracer) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# sor_mixed: reads, writes and full folds against one system of record
# ---------------------------------------------------------------------------

# Each block is four reads in shuffled order (two gets, a multi_get, and a
# typed or JSON-content scan in turn), one update_all and one full fold;
# two blocks hold the read mix exactly.
READ_MIX = {"get": 0.5, "multi_get": 0.25, "scan": 0.125, "json_scan": 0.125}
READS = tuple(READ_MIX)


class SorMixed(Workload):
    PRIMARY = READ_MIX                  # the read mix
    SECONDARY = {"resolve": 1.0}        # full fold of the growing log

    def stage(self):
        from pyspark.sql import functions as F

        from emodb_spark.spark import resolve_ops
        from emodb_spark.spark.datastore import DataStore
        from emodb_spark.spark.writer import UpdateLog

        self.log_path = self.ctx.path("log")
        gen.log_frame(self.spark, self.p, self.ctx.seed).write.partitionBy("tbl").parquet(
            self.log_path)
        self.log = UpdateLog(self.spark, self.log_path)
        # the read table is the fold of the staged log, with the document
        # fields projected to typed columns beside the raw JSON content
        doc = F.from_json("content", ", ".join(f"{n} {t}" for n, t in gen.TYPED_FIELDS))
        table = resolve_ops.resolve(_log_cols(self.log.read())).select(
            *[doc.getField(n).alias(n) for n, _ in gen.TYPED_FIELDS], "*")
        table_path = self.ctx.path("table")
        table.write.parquet(table_path)
        self.ds = DataStore(self.spark)
        self.ds.create_table(gen.TABLE, path=table_path)
        self.keys = gen.KeySampler(self.p.docs, self.p.key_zipf, self.ctx.rng)
        self.results: List[tuple] = []
        self.written: set = set()
        self.n_deltas = self.log.read().count() if self.ctx.trace else 0

    def warm(self):
        for kind in READS:
            self._read(kind, record=False)
        self._write()
        self._fold()

    # -- ops -----------------------------------------------------------------

    def _read(self, kind: str, record: bool = True):
        from pyspark.sql import functions as F

        from emodb_spark.language import parser
        from emodb_spark.spark import compiler

        rng, ds, tr = self.ctx.rng, self.ds, self.ctx.tracer
        if kind == "get":
            key = self.keys.key()
            with tr.span("datastore.get", "datastore"):
                row = ds.get(gen.TABLE, key)
            res = (kind, key, row and _doc(row["content"], row["~version"], row["~deleted"]))
        elif kind == "multi_get":
            keys = [self.keys.key() for _ in range(self.p.batch)]
            with tr.span("datastore.multi_get", "datastore"):
                rows = ds.multi_get(gen.TABLE, keys).select(
                    "~id", "content", "~version", "~deleted").collect()
            res = (kind, sorted(set(keys)),
                   {r["~id"]: _doc(r["content"], r["~version"], r["~deleted"]) for r in rows})
        elif kind == "scan":
            g, cond = rng.choice(gen.typed_conditions())
            with tr.span("datastore.scan", "datastore") as s:
                ids = [r[0] for r in ds.scan(gen.TABLE, cond).select("~id").collect()]
            res = (kind, g, cond, sorted(ids))
        else:
            g, text = rng.choice(gen.json_conditions())
            with tr.span("datastore.json_scan", "datastore") as s:
                col = compiler.condition_column_json(parser.parse_condition(text),
                                                     F.col("content"))
                ids = [r[0] for r in ds.read(gen.TABLE).filter(col).select("~id").collect()]
            res = (kind, g, text, sorted(ids))
        if kind in ("scan", "json_scan") and s is not None:
            s.metrics["rows_returned"] = len(ids)
        if record:
            self.results.append(res)

    def _write(self):
        from emodb_spark.spark.writer import Update

        rng = self.ctx.rng
        ups = []
        for _ in range(self.p.write_batch):
            i = self.keys.index()
            ups.append(Update(gen.TABLE, gen.key_name(i), gen.random_delta(self.p, rng, i)))
        ids = self.log.update_all(ups)
        self.n_deltas += len(ups)
        if len(set(ids)) != len(ups):
            self.ctx.fail("update_all returned duplicate or missing change ids")
        self.written.update(u.key for u in ups)

    def _fold(self):
        from emodb_spark.spark import resolve_ops

        with self.ctx.tracer.span("resolve_ops.resolve", "resolve_ops"):
            resolve_ops.resolve(_log_cols(self.log.read())).write.format("noop").mode(
                "overwrite").save()

    def _kinds(self):
        n = 0
        while True:
            reads = ["get", "get", "multi_get", ("scan", "json_scan")[n % 2]]
            self.ctx.rng.shuffle(reads)
            yield from reads
            yield "update_all"
            yield "resolve"
            n += 1

    def loop(self, deadline):
        """Ops until the deadline, and at least until every reported kind
        has a sample (so no end-to-end metric is empty)."""
        for kind in self._kinds():
            if time.perf_counter() >= deadline and all(
                    k in self.ctx.samples for k in (*self.PRIMARY, *self.SECONDARY)):
                break
            if kind in READS:
                self.ctx.run_op(kind, lambda: self._read(kind))
            elif kind == "resolve":
                self.ctx.run_op(kind, self._fold)
                if self.ctx.last_traced:
                    self.ctx.note("resolve.deltas", self.n_deltas)
            else:
                before = _files(self.log_path) if self.ctx.trace else None
                self.ctx.run_op(kind, self._write)
                if before is not None:
                    self.ctx.note("writer.files_per_call",
                                  len(_files(self.log_path)) - len(before))
        if self.ctx.trace:
            self.ctx.note("writer.log_files", len(_files(self.log_path)))

    # -- output checks -------------------------------------------------------

    def check(self):
        self._check_reads()
        self._check_fold()

    def _check_reads(self):
        """Reads against a Python fold of the staged log (the table is its
        snapshot): touched keys, plus every key of each scanned group."""
        from pyspark.sql import functions as F

        from emodb_spark.language.ceval import eval_condition
        from emodb_spark.language.parser import parse_condition

        keys, groups = set(), set()
        for r in self.results:
            if r[0] == "get":
                keys.add(r[1])
            elif r[0] == "multi_get":
                keys.update(r[1])
            else:
                groups.add(r[1])
        log = gen.log_frame(self.spark, self.p, self.ctx.seed)
        grp = F.substring("key", 2, 7).cast("long") % gen.N_GROUPS
        rows = (log.filter(F.col("key").isin(sorted(keys)) | grp.isin(sorted(groups)))
                .select("tbl", "key", "change_id", "delta").collect())
        truth = {k: v for (_t, k), v in reference_fold(rows).items()}

        def expect(key):
            t = truth[key]
            return {"content": t["content"], "version": t["version"], "deleted": t["deleted"]}

        def matching(g, cond_text):
            cond = parse_condition(cond_text)
            return sorted(k for k, t in truth.items()
                          if int(k[1:]) % gen.N_GROUPS == g and not t["deleted"]
                          and eval_condition(cond, t["content"]))

        for r in self.results:
            if r[0] == "get":
                ok = r[2] == expect(r[1])
            elif r[0] == "multi_get":
                ok = r[2] == {k: expect(k) for k in r[1]}
            else:
                ok = r[3] == matching(r[1], r[2])
            if not ok:
                self.ctx.fail(f"{r[0]} result differs from the reference fold")

    def _check_fold(self):
        """resolve() of the final log against a Python fold of a seeded
        key sample (half staged keys, half keys written in the loop)."""
        from pyspark.sql import functions as F

        from emodb_spark.spark import resolve_ops

        rng = random.Random(self.ctx.seed + 1)
        keys = sorted({gen.key_name(i) for i in gen.sample(range(self.p.docs), 150, rng)}
                      | set(gen.sample(sorted(self.written), 150, rng)))
        rows = (self.log.read().filter(F.col("key").isin(keys))
                .select("tbl", "key", "change_id", "delta").collect())
        truth = reference_fold(rows)
        got = {
            (r["~table"], r["~id"]): _doc(r["content"], r["~version"], r["~deleted"],
                                          r["~signature"])
            for r in resolve_ops.resolve(_log_cols(self.log.read()))
            .filter(F.col("`~id`").isin(keys)).collect()
        }
        self.ctx.attempted += 1
        bad = [k for k, t in truth.items() if got.get(k) != t]
        if bad:
            self.ctx.fail(f"resolve() differs from the reference fold on {len(bad)} keys")

    def wrap(self, tr):
        from emodb_spark.language import parser
        from emodb_spark.spark import compiler, datastore, writer

        tr.wrap(parser, "parse_condition", "language.parse_condition", "language", spark=False)
        tr.wrap(datastore, "parse_condition", "language.parse_condition", "language", spark=False)
        tr.wrap(datastore, "compile_condition", "compiler.compile", "compiler", spark=False)
        tr.wrap(compiler, "condition_column_json", "compiler.json", "compiler", spark=False)
        tr.wrap(writer.UpdateLog, "update_all", "writer.update_all", "writer")
        tr.wrap(writer, "parse_delta", "language.parse_delta", "language", spark=False)


# ---------------------------------------------------------------------------
# databus_cluster: the streaming resolver and its consumers, plus clustering
# ---------------------------------------------------------------------------

DATABUS_TABLES = (("review", {"kind": "review"}), ("question", {"kind": "question"}))
UNKNOWN_TABLE = "unregistered"
SUBSCRIPTIONS = (
    ("all", "alwaysTrue()"),
    ("reviews", 'intrinsic("~table":"review")'),
    ("questions", '{..,"kind":"question"}'),
    ("either", 'or(intrinsic("~table":"question"),{..,"kind":"review"})'),
)
POLL_LIMIT = 50
REDUNDANT_SHARE = 0.05
UNKNOWN_SHARE = 0.02


class Databus(Part):
    """Megabus resolver state with four subscriptions; refs are Zipf
    keys, a few redundant deltas and a few refs to an unregistered table
    (parked, never folded)."""

    def stage(self):
        from emodb_spark.spark.streaming.databus import (
            DatabusPoller, MegabusResolver, SubscriptionRegistry)

        self.registry = SubscriptionRegistry()
        for name, template in DATABUS_TABLES:
            self.registry.put_table(name, template)
        for name, cond in SUBSCRIPTIONS:
            self.registry.subscribe(name, cond)
        self.out_path = self.ctx.path("sinks")
        self.resolver = MegabusResolver(
            self.spark, self.registry, self.ctx.path("state"), self.out_path,
            retry_path=self.ctx.path("parked"))
        self.poller = DatabusPoller(self.spark, self.out_path, self.ctx.path("claims"))
        self.keys = gen.KeySampler(self.p.docs, self.p.key_zipf, self.ctx.rng)
        self.batches: List[list] = []
        self.polled: List[str] = []
        self.n_batch = 0
        self._preload_state()

    def _preload(self):
        frames = [gen.log_frame(self.spark, self.p, self.ctx.seed, table=t, lane=n)
                  for n, (t, _) in enumerate(DATABUS_TABLES)]
        return frames[0].unionByName(frames[1])

    def _preload_state(self):
        """Seed the resolver's state store with the batch fold of the
        generated log (what one huge first micro-batch would leave), via
        the store's own bucketed write."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from emodb_spark.spark import resolve_ops

        log = _log_cols(self._preload())
        ticks = resolve_ops.change_id_ticks(F.col("change_id"))
        last = log.groupBy("tbl", "key").agg(
            F.max_by("change_id", ticks).alias("last_change_id"))
        r = resolve_ops.resolve(log)
        state = r.select(
            F.col("`~table`").alias("tbl"), F.col("`~id`").alias("key"), "content",
            F.col("`~version`").alias("version"), F.col("`~signature`").alias("signature"),
            F.col("`~deleted`").alias("deleted"),
            F.col("`~firstUpdateAt`").alias("first_update_at"),
            F.col("`~lastUpdateAt`").alias("last_update_at"),
            F.col("`~lastMutateAt`").alias("last_mutate_at"),
            F.array().cast(T.ArrayType(T.StringType())).alias("last_tags"),
        ).join(last, ["tbl", "key"])
        store = self.resolver.state
        store.write_buckets(state.withColumn("bucket", store.bucket_col()))

    def _refs(self) -> list:
        rng, b = self.ctx.rng, self.n_batch
        rows = []
        for j in range(self.p.batch):
            cid = gen.time_uuid(gen.STREAM_BASE_TICKS + (b * self.p.batch + j) * gen.TICK_STEP)
            i = self.keys.index()
            r = rng.random()
            if r < UNKNOWN_SHARE:
                tbl, delta = UNKNOWN_TABLE, gen.random_delta(self.p, rng, i)
            else:
                tbl = DATABUS_TABLES[rng.randrange(2)][0]
                delta = (f'{{..,"grp":"g{i % gen.N_GROUPS}"}}'
                         if r < UNKNOWN_SHARE + REDUNDANT_SHARE
                         else gen.random_delta(self.p, rng, i))
            rows.append((tbl, gen.key_name(i), cid, delta, []))
        return rows

    def _batch(self):
        from emodb_spark.spark.writer import LOG_SCHEMA

        rows = self._refs()
        self.n_batch += 1
        self.batches.append(rows)
        df = self.spark.createDataFrame([r + ({}, False) for r in rows], LOG_SCHEMA)
        self.resolver.process_batch(_log_cols(df), self.n_batch)
        return rows

    def batch_op(self):
        """One micro-batch, ref in to event visible in the sinks; in the
        traced run also the bucket files it rewrote."""
        before = _files(self.resolver.state.path) if self.ctx.tracer.enabled else None
        rows = self._batch()
        if before is not None:
            self._pending = (before, rows)

    def poll_op(self, sub: str):
        got = self.poller.poll(sub, limit=POLL_LIMIT)
        ids = [e["id"] for e in got]
        self.poller.acknowledge(sub, ids)
        self.polled.extend(f"{sub}/{i}" for i in ids)
        if not ids:
            self.ctx.fail(f"poll({sub}) returned no events")

    def after_traced_op(self, kind: str) -> None:
        """Counters read after a traced op, outside its timed region."""
        if kind == "process_batch":
            self._note_batch(*self._pending)
        elif kind == "poll_ack":
            self.ctx.note("queues.claims_files", len(_files(self.ctx.path("claims", "claims"))))
            self.ctx.note("queues.acks_files", len(_files(os.path.join(self.out_path, "_acks"))))

    def _note_batch(self, before: Dict[str, int], rows: list) -> None:
        """Bucket files rewritten by the last batch, and the fold's
        redundant-event share (read back from the fold's own output)."""
        from pyspark.sql import functions as F

        after = _files(self.resolver.state.path)
        changed = {p for p in after if p not in before}
        buckets = {os.path.basename(os.path.dirname(p)) for p in changed}
        in_bytes = sum(len(t) + len(k) + len(c) + len(d) for t, k, c, d, _ in rows)
        self.ctx.note("databus.buckets_touched", len(buckets))
        self.ctx.note("databus.state_bytes_rewritten_per_input_byte",
                      sum(after[p] for p in changed) / in_bytes)
        fold = self.spark.read.parquet(self.resolver.state.path + "._work/fold")
        r = fold.filter(F.col("row_type") == "event").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_redundant").cast("int")).alias("red")).collect()[0]
        self.ctx.note("databus.redundant_ratio", (r["red"] or 0) / max(1, r["n"]))

    def check(self):
        from pyspark.sql import functions as F

        from emodb_spark.spark import resolve_ops
        from emodb_spark.spark.writer import LOG_SCHEMA

        self.ctx.attempted += 2
        if len(set(self.polled)) != len(self.polled):
            self.ctx.fail("an event was delivered twice")
        known = [t for t, _ in DATABUS_TABLES]
        refs = [r + ({}, False) for b in self.batches for r in b if r[0] in known]
        log = _log_cols(self._preload()).unionByName(
            _log_cols(self.spark.createDataFrame(refs, LOG_SCHEMA)))
        want = {
            (r["~table"], r["~id"]): _doc(r["content"], r["~version"], r["~deleted"],
                                          r["~signature"])
            for r in resolve_ops.resolve(log).collect()
        }
        state = self.resolver.state.read()
        got = {
            (r["tbl"], r["key"]): _doc(r["content"], r["version"], r["deleted"], r["signature"])
            for r in state.collect()
        }
        if got != want:
            bad = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
            self.ctx.fail(f"state store differs from resolve() on {bad} documents")
        if state.filter(F.col("tbl") == UNKNOWN_TABLE).limit(1).count():
            self.ctx.fail("refs to an unregistered table reached the state store")

    def wrap(self, tr):
        from emodb_spark.spark.streaming import databus

        tr.wrap(databus.MegabusResolver, "process_batch", "databus.process_batch", "databus")
        tr.wrap(databus, "merge_batch", "databus.merge_batch", "databus")
        tr.wrap(databus.ResolvedStateStore, "read_buckets", "databus.read_buckets", "databus")
        tr.wrap(databus.ResolvedStateStore, "write_buckets", "databus.write_buckets", "databus")
        tr.wrap(databus.DatabusPoller, "poll", "databus.poll", "databus")
        tr.wrap(databus.DatabusPoller, "acknowledge", "databus.acknowledge", "databus")


class Clustering(Part):
    """``near_dup_clusters_star`` on a graph of deep chains plus shallow
    near-dup blobs, and ``near_dup_clusters`` on the blobs alone: the blobs
    are the graph both kernels share."""

    def stage(self):
        chains, blobs = (make(self.spark, self.p, self.ctx.seed)
                         for make in (gen.chain_graph, gen.clique_graph))
        self.graphs = {
            "all": (chains[0].unionByName(blobs[0]), chains[1].unionByName(blobs[1])),
            "blobs": blobs,
        }
        blob_labels = gen.clique_labels(self.p, self.ctx.seed)
        self.want = {"all": {**gen.chain_labels(self.p, self.ctx.seed), **blob_labels},
                     "blobs": blob_labels}
        self.stats: Dict[str, object] = {}

    def _cluster(self, kind: str, graph: str) -> Dict[int, int]:
        from emodb_spark.pipeline import dedup

        docs, pairs = self.graphs[graph]
        with self.ctx.tracer.span(f"dedup.{kind}", "dedup"):
            if kind == "star":
                self.stats = {}
                df = dedup.near_dup_clusters_star(docs, pairs, stats=self.stats)
            else:
                df = dedup.near_dup_clusters(docs, pairs)
            return {r["doc_id"]: r["cluster_id"] for r in df.collect()}

    def pass_op(self):
        """One clustering pass over both kernels, each checked against the
        closed-form minimum of its components and against each other on
        the shared blobs."""
        star = self._cluster("star", "all")
        if self.ctx.tracer.enabled:
            self.ctx.note("dedup.star.rounds", self.stats.get("rounds", 0))
        minlabel = self._cluster("minlabel", "blobs")
        self.ctx.attempted += 2
        if star != self.want["all"]:
            self.ctx.fail("star labels differ from the component minimum")
        if minlabel != self.want["blobs"]:
            self.ctx.fail("min-label labels differ from the component minimum")
        if any(star.get(k) != v for k, v in minlabel.items()):
            self.ctx.fail("star and min-label disagree on the shared blobs")

    def wrap(self, tr):
        from emodb_spark.pipeline import dedup

        tr.wrap(dedup, "pin", "dedup.pin", "dedup")


class DatabusCluster(Workload):
    """The job-bound background pipelines: the streaming resolver's
    micro-batches, their consumers' polls, and a near-dup clustering
    pass. Each op is tens of small Spark jobs, so per-job fixed cost,
    not data volume, sets its latency."""

    PRIMARY = {"process_batch": 1.0}    # ref in to event visible in the sinks
    SECONDARY = {"cluster": 1.0}        # star on chains and blobs + min-label on blobs

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.bus = Databus(ctx)
        self.cc = Clustering(ctx)

    def stage(self):
        self.bus.stage()
        self.cc.stage()

    def warm(self):
        """None: each cycle costs ~15 s of small jobs here, so the single
        measured cycle is the first after set-up (plan compilation
        included), the latency a freshly started resolver shows."""

    def loop(self, deadline):
        """Whole cycles (batch, poll, clustering pass): at least one, then
        another only if it is due to end by the deadline, so the number of
        cycles does not flip with small speed changes."""
        subs = [s for s, _ in SUBSCRIPTIONS]
        start = time.perf_counter()
        n = 0
        while True:
            sub = subs[self.bus.n_batch % len(subs)]
            for kind, fn in (("process_batch", self.bus.batch_op),
                             ("poll_ack", lambda: self.bus.poll_op(sub)),
                             ("cluster", self.cc.pass_op)):
                self.ctx.run_op(kind, fn)
                if self.ctx.last_traced:
                    self.bus.after_traced_op(kind)
            n += 1
            now = time.perf_counter()
            if now + (now - start) / n > deadline:
                break

    def check(self):
        self.bus.check()  # every clustering pass was checked as it ran

    def wrap(self, tr):
        self.bus.wrap(tr)
        self.cc.wrap(tr)


WORKLOADS = {
    "sor_mixed": SorMixed,
    "databus_cluster": DatabusCluster,
}
