"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(seed, params)``: bulk inputs (update
logs, graphs) are built JVM-side from ``spark.range`` with ``xxhash64``
draws, so staging them costs no Python rows; the small per-op inputs
(keys, update batches, databus refs) come from ``random.Random(seed)``.
The program under test only ever receives the generated data.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
from dataclasses import asdict, dataclass
from typing import Dict, List, Sequence, Tuple

# UUID epoch (1582-10-15) to Unix epoch, in 100 ns ticks
UUID_EPOCH_OFFSET = 0x01B21DD213814000
# generated logs start at 2024-01-01T00:00:00Z; live writes (update_all
# stamps "now") therefore always sort after every generated delta
BASE_TICKS = 1_704_067_200_000 * 10_000 + UUID_EPOCH_OFFSET
TICK_STEP = 100  # 10 µs between consecutive generated deltas
# databus refs are stamped well after any preloaded delta
STREAM_BASE_TICKS = BASE_TICKS + 10**10
NODE_HEX = "00000000be4c"

TABLE = "review"
TYPED_FIELDS = (("name", "string"), ("score", "bigint"), ("grp", "string"),
                ("active", "boolean"), ("tier", "string"))
N_GROUPS = 50


@dataclass(frozen=True)
class Params:
    """Knobs of one workload's inputs, recorded with every result."""

    docs: int                      # documents (distinct keys) in the store
    tail_alpha: float = 1.5        # Pareto exponent of per-key delta tails
    tail_max: int = 64             # cap on one key's generated tail
    delta_mix: Tuple[float, float, float, float] = (0.55, 0.15, 0.25, 0.05)
    #                                map, literal, conditional, delete
    key_zipf: float = 1.1          # Zipf exponent of the keys ops touch
    batch: int = 500               # keys per multi_get / refs per databus batch
    write_batch: int = 500         # deltas per update_all
    chains: int = 0                # clustering: chained components
    chain_len: int = 64            # clustering: nodes per chain
    cliques: int = 0               # clustering: near-dup components
    why: str = ""

    def record(self) -> dict:
        return asdict(self)


# Sizes are small: on a 4-core box most ops cost a few Spark jobs of fixed
# overhead each, so a larger input would add run time without changing
# which layer dominates. The shape knobs (skews, delta mix, chain length)
# are what the engine's behaviour depends on.
WORKLOADS: Dict[str, Params] = {
    "sor_mixed": Params(
        docs=10_000, batch=100, write_batch=500,
        why="the system of record: Zipf point reads and Condition scans "
            "(datastore, compiler, language) beside update_all appends "
            "(writer) and full folds (resolve_ops, core.resolver in Python "
            "workers) that must re-read every appended file",
    ),
    "databus_cluster": Params(
        docs=2_000, batch=500, chains=16, chain_len=24, cliques=200,
        why="the job-bound pipelines: streaming-resolver micro-batches (the "
            "same fold kernel on small inputs, where bucket rewrite, fanout "
            "jobs and claim/ack files dominate) and iterative connected "
            "components (deep chains for star, shallow near-dup blobs for "
            "min-label), where per-round job overhead dominates",
    ),
}

TINY: Dict[str, Params] = {
    "sor_mixed": Params(docs=600, batch=20, write_batch=40),
    "databus_cluster": Params(docs=300, batch=40, chains=6, chain_len=16, cliques=40),
}


# ---------------------------------------------------------------------------
# time-UUIDs (canonical v1 text, fixed clock-seq and node)
# ---------------------------------------------------------------------------


def time_uuid(ticks: int) -> str:
    h = f"{ticks:015x}"
    return f"{h[7:15]}-{h[3:7]}-1{h[0:3]}-8000-{NODE_HEX}"


def time_uuid_col(ticks):
    """Spark Column version of :func:`time_uuid` (``ticks`` a long Column)."""
    from pyspark.sql import functions as F

    h = F.lpad(F.lower(F.hex(ticks)), 15, "0")
    return F.concat(
        F.substring(h, 8, 8), F.lit("-"), F.substring(h, 4, 4), F.lit("-1"),
        F.substring(h, 1, 3), F.lit(f"-8000-{NODE_HEX}"),
    )


# ---------------------------------------------------------------------------
# documents and deltas
# ---------------------------------------------------------------------------


def key_name(i: int) -> str:
    return f"k{i:07d}"


def _doc_literal(i: int, score: int, active: bool) -> str:
    return json.dumps({"name": f"n{i}", "score": score, "grp": f"g{i % N_GROUPS}",
                       "active": active}, separators=(",", ":"))


COND_DELTA = 'if {..,"score":gt(49)} then {..,"tier":"hi"} else {..,"tier":"lo"} end'


def delta_text(kind: int, i: int, score: int, active: bool) -> str:
    """Delta of ``kind`` (index into ``Params.delta_mix``) for key ``i``."""
    if kind == 0:
        return f'{{..,"score":{score},"active":{"true" if active else "false"}}}'
    if kind == 1:
        return _doc_literal(i, score, active)
    if kind == 2:
        return COND_DELTA
    return "~"


def log_frame(spark, p: Params, seed: int, table: str = TABLE, lane: int = 0):
    """The generated update log (LOG_SCHEMA columns) as a lazy DataFrame.

    Key ``i`` gets a Pareto(``tail_alpha``) tail of deltas; its first
    delta creates the document, later ones follow ``delta_mix``. Logs of
    different tables take different ``lane``s (0-3), so change ids stay
    unique across tables."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    u = lambda *cols: (F.pmod(F.xxhash64(F.lit(seed), F.lit(table), *cols),
                              F.lit(1_000_003)) / F.lit(1_000_003.0))
    i = F.col("id")
    tail = F.least(F.lit(p.tail_max), F.floor(
        F.pow(F.lit(1.0) - u(i, F.lit("tail")), F.lit(-1.0 / p.tail_alpha))
    ).cast("int"))
    docs = spark.range(p.docs).select(i.alias("i"), tail.alias("n"))
    rows = docs.select("i", F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("pos"))
    ci, pos = F.col("i"), F.col("pos")
    r_kind = u(ci, pos, F.lit("kind"))
    score = F.floor(u(ci, pos, F.lit("score")) * 100).cast("long")
    active = u(ci, pos, F.lit("act")) < 0.5
    m0, m1, m2 = (sum(p.delta_mix[:j + 1]) for j in range(3))
    act_txt = F.when(active, F.lit("true")).otherwise(F.lit("false"))
    literal = F.format_string(
        '{"name":"n%d","score":%d,"grp":"g%d","active":%s}',
        ci, score, F.pmod(ci, F.lit(N_GROUPS)), act_txt)
    mapd = F.format_string('{..,"score":%d,"active":%s}', score, act_txt)
    delta = (
        F.when(pos == 0, literal)
        .when(r_kind < m0, mapd)
        .when(r_kind < m1, literal)
        .when(r_kind < m2, F.lit(COND_DELTA))
        .otherwise(F.lit("~"))
    )
    ticks = F.lit(BASE_TICKS) + ((pos * F.lit(p.docs) + ci) * 4 + lane) * F.lit(TICK_STEP)
    return rows.select(
        F.lit(table).alias("tbl"),
        F.format_string("k%07d", ci).alias("key"),
        time_uuid_col(ticks).alias("change_id"),
        delta.alias("delta"),
        F.array().cast(T.ArrayType(T.StringType())).alias("tags"),
        F.create_map().cast(T.MapType(T.StringType(), T.StringType())).alias("audit"),
        F.lit(False).alias("no_events"),
    )


class KeySampler:
    """Zipf(``s``) over ``n`` keys; rank r maps to key ``(a*r + b) mod n``
    so the hot keys are spread over the key space (and over buckets)."""

    def __init__(self, n: int, s: float, rng: random.Random):
        self.n = n
        self.rng = rng
        acc, cum = 0.0, []
        for r in range(1, n + 1):
            acc += r ** -s
            cum.append(acc)
        self._cum = cum
        self._a = _coprime_step(n)
        self._b = rng.randrange(n)

    def index(self) -> int:
        r = bisect.bisect_left(self._cum, self.rng.random() * self._cum[-1])
        return (self._a * r + self._b) % self.n

    def key(self) -> str:
        return key_name(self.index())


def _coprime_step(n: int) -> int:
    from math import gcd

    a = max(1, int(n * 0.6180339887))
    while gcd(a, n) != 1:
        a += 1
    return a


def random_delta(p: Params, rng: random.Random, i: int) -> str:
    kind = rng.choices(range(4), weights=p.delta_mix)[0]
    return delta_text(kind, i, rng.randrange(100), rng.random() < 0.5)


# ---------------------------------------------------------------------------
# scan conditions
# ---------------------------------------------------------------------------


SCAN_GROUPS = (3, 11, 19, 27, 35, 43)


def typed_conditions() -> List[Tuple[int, str]]:
    """(group, condition) for typed scans; each selects ~0.2% of the
    documents. Scoping by group keeps the reference check cheap."""
    return [(g, f'{{..,"grp":"g{g}","score":gt({80 + g % 10})}}') for g in SCAN_GROUPS]


def json_conditions() -> List[Tuple[int, str]]:
    """(group, condition) compiled over the raw ``content`` JSON column."""
    return [(g, f'{{..,"grp":"g{g}","active":true,"score":lt({10 + g % 10})}}')
            for g in SCAN_GROUPS]


# ---------------------------------------------------------------------------
# graphs for the clustering pass
# ---------------------------------------------------------------------------


def _perm(n: int, seed: int):
    a = _coprime_step(n)
    b = random.Random(seed).randrange(n)
    return lambda x: (a * x + b) % n


def chain_graph(spark, p: Params, seed: int):
    """``chains`` paths of ``chain_len`` nodes; node ids are an affine
    permutation of positions, so each chain's minimum sits mid-path.
    Returns (docs, pairs) DataFrames with columns doc_id / id_a, id_b."""
    from pyspark.sql import functions as F

    n = p.chains * p.chain_len
    a, b = _coprime_step(n), random.Random(seed).randrange(n)
    ident = lambda c: F.pmod(F.lit(a) * c + F.lit(b), F.lit(n)).cast("long")
    docs = spark.range(n).select(ident(F.col("id")).alias("doc_id"))
    pos = spark.range(n).where(F.pmod(F.col("id"), F.lit(p.chain_len)) != p.chain_len - 1)
    pairs = pos.select(ident(F.col("id")).alias("id_a"),
                       ident(F.col("id") + 1).alias("id_b"))
    return docs, pairs


def chain_labels(p: Params, seed: int) -> Dict[int, int]:
    """Closed form: every node's label is its chain's minimum id."""
    n = p.chains * p.chain_len
    f = _perm(n, seed)
    out = {}
    for c in range(p.chains):
        ids = [f(c * p.chain_len + j) for j in range(p.chain_len)]
        m = min(ids)
        out.update((x, m) for x in ids)
    return out


def clique_sizes(p: Params, seed: int) -> List[int]:
    rng = random.Random(seed * 7919 + 1)
    return [rng.choice((1, 2, 2, 3, 3, 4, 5, 6)) for _ in range(p.cliques)]


def clique_graph(spark, p: Params, seed: int):
    """Near-dup-shaped graph: small dense blobs (every member paired with
    every other, as MinHash LSH candidates of one duplicate family are),
    singletons included. Ids are offset past the chain graph's."""
    from pyspark.sql import types as T

    docs, pairs = clique_members(p, seed)
    d = spark.createDataFrame([(x,) for x in docs], "doc_id long")
    e = spark.createDataFrame(pairs, T.StructType([
        T.StructField("id_a", T.LongType()), T.StructField("id_b", T.LongType())]))
    return d, e


def clique_members(p: Params, seed: int):
    base = p.chains * p.chain_len
    rng = random.Random(seed * 104729 + 3)
    sizes = clique_sizes(p, seed)
    ids = list(range(base, base + sum(sizes)))
    rng.shuffle(ids)
    pairs, at = [], 0
    for s in sizes:
        mem = ids[at:at + s]
        at += s
        pairs.extend((x, y) for xi, x in enumerate(mem) for y in mem[xi + 1:])
    return ids, pairs


def clique_labels(p: Params, seed: int) -> Dict[int, int]:
    ids, _ = clique_members(p, seed)
    out, at = {}, 0
    for s in clique_sizes(p, seed):
        mem = ids[at:at + s]
        at += s
        m = min(mem)
        out.update((x, m) for x in mem)
    return out


# ---------------------------------------------------------------------------
# fingerprint
# ---------------------------------------------------------------------------


def input_hash(spark, workload: str, p: Params, seed: int) -> str:
    """Digest of a workload's generated inputs (same seed → same hash)."""
    from pyspark.sql import functions as F

    h = hashlib.sha256(json.dumps([workload, seed, p.record()], sort_keys=True).encode())
    frames = [log_frame(spark, p, seed).drop("audit")]
    if p.chains:
        frames += [chain_graph(spark, p, seed)[1], clique_graph(spark, p, seed)[1]]
    for df in frames:
        row = df.select(F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2**31 - 1))).alias("s"),
                        F.count(F.lit(1)).alias("n")).collect()[0]
        h.update(f"{row['s']}:{row['n']}".encode())
    rng = random.Random(seed)
    h.update(repr([rng.random() for _ in range(8)]).encode())
    return h.hexdigest()[:16]


def params_for(workload: str, tiny: bool) -> Params:
    return (TINY if tiny else WORKLOADS)[workload]


def sample(seq: Sequence, k: int, rng: random.Random) -> list:
    return rng.sample(list(seq), min(k, len(seq)))
