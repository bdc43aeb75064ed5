"""The benchmark workloads.

Each workload sets up (session, input derivation, load, warm-up),
repeats its unit operation for the requested seconds in whole rounds,
and checks its outputs with a correctness gate outside every timed
window. Every call into the repository goes through a public function:
``session.get_spark`` / ``session.load_tables``, ``plans.parse`` /
``plans.plan_flatten`` / ``plans.plan_withstructure``,
``reshape.reshape``, ``sources.avro_io.write_avro_fallback`` /
``read_avro_fallback`` / ``read_container``, ``compat.AvroSqlProcessor``
and the operator registry ``__spark_entry__.queries()``.

Every operation runs the same code whether it is traced or not. With
tracing on, the timed phase mixes untraced and traced rounds. A traced
round records spans around every public call. After the round, outside
every timer, it reads each operation's Spark counters and makes the
probe-only calls (``plans.parse`` / ``plan_*`` on their own,
``read_container``, the scan's leaf count), so the operations of both
kinds of round run back to back. The change in round wall between the
two kinds is the tracing overhead. End-to-end metrics come from
untraced runs only.
"""

from __future__ import annotations

import gc
import json
import os
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Callable

import numpy as np

from . import data
from .probes import (
    Tracer,
    frame_hash,
    group_counters,
    mean,
    median,
    quantile,
    read_leaf_fields,
    rows_hash,
    sweep_persisted_rdds,
    tree_peak_rss_mb,
    zero_counters,
)

CPUS = min(4, os.cpu_count() or 1)
HERE = os.path.dirname(os.path.abspath(__file__))
FROZEN_PATH = os.path.join(HERE, "frozen_outputs.json")


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    work: str
    t_start: float
    spark: object = None
    layer: dict = field(default_factory=dict)
    gates: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    counting: bool = True
    counters: dict = field(default_factory=zero_counters)
    counted_ops: int = 0
    rounds: list = field(default_factory=list)
    # probe calls of a traced round's operations, run after the round
    probes: list = field(default_factory=list)
    _group: int = 0

    def __post_init__(self):
        # traced runs also trace set-up; the untraced half switches it off
        self.tracer = Tracer(self.trace)

    def timed(self, span: str, fn: Callable, *args, **kwargs):
        """Call ``fn`` inside a span; return (result, seconds)."""
        t = time.perf_counter()
        with self.tracer.span(span):
            out = fn(*args, **kwargs)
        return out, time.perf_counter() - t

    def start_session(self) -> None:
        from avro_sql_spark.session import get_spark

        self.spark, self.layer["session.get_spark_s"] = self.timed(
            "session.get_spark", get_spark, "perfbench", cpus=CPUS, shuffle_partitions=CPUS
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def gate(self, name: str, check: Callable[[], bool]) -> None:
        """Run one correctness gate; an exception fails it."""
        try:
            ok = bool(check())
        except Exception:
            traceback.print_exc()
            ok = False
        self.gates[name] = ok

    def attempt(self, fn: Callable):
        """One operation; failures are counted (outside warm-up), not raised."""
        self.attempted += self.counting
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.failed += self.counting
            return None

    def new_group(self) -> str:
        """Start a fresh Spark job group and return its id. Every
        operation gets one, traced or not, so both run the same calls."""
        self._group += 1
        gid = f"perfbench-{self._group}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid

    def count_group(self, gid: str) -> dict:
        c = group_counters(self.spark, gid)
        for k, v in c.items():
            self.counters[k] += v
        return c

    def control_seconds(self) -> float:
        """Median of five runs of a fixed Spark job (drift control), after
        three untimed runs that warm its generated code."""
        times = []
        for i in range(8):
            t = time.perf_counter()
            self.spark.range(0, 4_000_000, 1, CPUS).selectExpr("sum(id % 7)").collect()
            if i >= 3:
                times.append(time.perf_counter() - t)
        return median(times)


def _write_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _interleave(*parts: list) -> list:
    """Merge lists so each one's items are spread evenly over the result.
    Host speed swings over seconds; spread samples see more of them."""
    keyed = [((i + 0.5) / len(part), j, item) for j, part in enumerate(parts) for i, item in enumerate(part)]
    return [item for *_, item in sorted(keyed, key=lambda k: k[:2])]


def _round_walls(rounds: list) -> list:
    return [sum(op["wall"] for op in rnd) for rnd in rounds]


def _ops(rounds: list, kind: str | None = None) -> list:
    return [op for rnd in rounds for op in rnd if kind is None or op["kind"] == kind]


def _median_by_kind(rounds: list, key: str) -> dict:
    """Per operation kind, the median of ``key`` over the run."""
    kinds = dict.fromkeys(op["kind"] for op in _ops(rounds))
    return {k: median([op[key] for op in _ops(rounds, k)]) for k in kinds}


def _measure(ctx: Ctx, one_round: Callable[[bool], list], warm_rounds: int) -> tuple[list, list]:
    """Warm up, then run whole rounds until the timed phase's seconds
    have passed, and at least two, so that a slow first round still
    leaves every operation two samples. Untraced runs time only untraced
    rounds. Traced runs repeat untraced, traced, traced, untraced rounds
    and stop only after a whole block of four, so a steady drift in host
    speed falls equally on both kinds. Returns (untraced rounds, traced
    rounds); a round lists its successful operations."""
    ctx.counting = False
    for _ in range(0 if ctx.smoke else warm_rounds):
        one_round(False)
    ctx.counting = True
    # the harness's long-lived objects (inputs, records, Spark handles)
    # leave the cyclic GC's scans, so its pauses in timed calls do not
    # depend on how much the harness holds
    gc.collect()
    gc.freeze()
    ctx.layer["bench.setup_s"] = time.perf_counter() - ctx.t_start
    if ctx.trace:
        ctx.tracer.enabled = False  # set-up was traced; untraced rounds are not
        control_start = ctx.control_seconds()
    rounds: dict[bool, list] = {False: [], True: []}
    pattern = (False, True, True, False) if ctx.trace else (False,)
    end = time.perf_counter() + ctx.seconds
    i = 0
    while True:
        traced = pattern[i % len(pattern)]
        ctx.tracer.enabled = traced
        rounds[traced].append([op for op in one_round(traced) if op])
        for probe in ctx.probes:
            probe()
        ctx.probes.clear()
        i += 1
        if i % len(pattern) == 0 and (ctx.smoke or (i >= 2 and time.perf_counter() >= end)):
            break
    ctx.tracer.enabled = False
    plain, traced_rounds = rounds[False], rounds[True]
    ctx.rounds = plain + traced_rounds
    if ctx.trace:
        ctx.layer["control.drift_ratio"] = ctx.control_seconds() / control_start
        ctx.counted_ops = len(_ops(traced_rounds))
        ctx.layer["trace.overhead_ratio"] = median(_round_walls(traced_rounds)) / median(_round_walls(plain)) - 1.0
    return plain, traced_rounds


def _e2e(ctx: Ctx, wall_s: float, records_per_s: float, write_rows_per_s: float,
         read_rows_per_s: float, call_s: list) -> dict:
    return {
        "setup_s": ctx.layer["bench.setup_s"],
        "wall_s": wall_s,
        "records_per_s": records_per_s,
        "write_rows_per_s": write_rows_per_s,
        "read_rows_per_s": read_rows_per_s,
        "call_p50_ms": quantile(call_s, 0.5) * 1000,
        "call_p90_ms": quantile(call_s, 0.9) * 1000,
        "driver_rss_peak_mb": tree_peak_rss_mb(),
    }


# ==========================================================================
# reshape_mix: the paper's reshape in its three forms
#   - batch: the reference's golden query shapes over a nested table
#   - Avro IO: a customer prefix written, read back and reshaped
#   - host: the reference's per-record calling convention, apply()
# ==========================================================================

NESTED_FILE = os.path.join("nested", "customers.parquet")
PREFIX_FILE = os.path.join("nested", "prefix.parquet")
AVRO_FILE = os.path.join("avro", "customers.avro")
# 6 blocks of 21 customers: 1260 orders and 5040 lineitems for every seed
AVRO_PREFIX = 126
AVRO_QUERY = (
    "SELECT c_custkey, profile.segment, orders.o_orderkey, orders.lineitems.l_extendedprice "
    "FROM t withstructure"
)
HOST_QUERY = (
    "SELECT c_custkey, profile.segment, orders.o_orderkey, orders.o_orderdate, "
    "orders.lineitems.l_extendedprice, attrs.tier FROM t withstructure"
)
HOST_POOL = 1024
# A round spends a similar time on each of its three parts: the 9
# shapes (about 1.4 s), AVRO_CYCLES cycles (about 1.1 s each) and the
# apply() calls (about 0.25 s each, whatever the batch size)
AVRO_CYCLES = 3
HOST_BATCHES = (1, 64) * 3
MIX_WARM_ROUNDS = 2
_EPOCH = datetime(1970, 1, 1)


def _host_expected(r: dict) -> dict:
    """HOST_QUERY applied to one Avro-JSON record, in plain Python."""
    return {
        "c_custkey": r["c_custkey"],
        "profile": {"segment": r["profile"]["segment"]},
        "orders": [
            {
                "o_orderkey": o["o_orderkey"],
                "o_orderdate": _EPOCH + timedelta(microseconds=o["o_orderdate"]),
                "lineitems": [{"l_extendedprice": li["l_extendedprice"]} for li in o["lineitems"]],
            }
            for o in r["orders"]
        ],
        "attrs": {"tier": r["attrs"]["tier"]},
    }


def _derive_mix(ctx: Ctx, n_customers: int, prefix: int, pool: int) -> list:
    """The seed's nested customer table, its first ``prefix`` customers
    (both as parquet under the work directory) and ``pool`` Avro-JSON
    host records."""
    table = data.nested_customers(ctx.seed, n_customers)
    # 16 row groups, so the scan splits across all cores
    data.write_parquet(table, os.path.join(ctx.work, NESTED_FILE),
                       row_group_rows=max(1, -(-table.num_rows // 16)))
    data.write_parquet(table.slice(0, prefix), os.path.join(ctx.work, PREFIX_FILE))
    return data.host_records(ctx.seed, pool)


def reshape_mix(ctx: Ctx) -> tuple[dict, dict]:
    """One round, its three parts interleaved: the 9 golden shapes (each
    ``reshape`` plus a noop write) in the seed's order; AVRO_CYCLES Avro
    cycles (deflate write of the prefix, read back, reshape into a noop
    sink); ``apply()`` calls on alternating 1- and 64-record batches."""
    from avro_sql_spark.compat import AvroSqlProcessor
    from avro_sql_spark.plans import parse, plan_flatten, plan_withstructure
    from avro_sql_spark.reshape import reshape
    from avro_sql_spark.sources.avro_io import read_avro_fallback, read_container, write_avro_fallback

    n, p = (147, 21) if ctx.smoke else (data.SF01_CUSTOMERS, AVRO_PREFIX)
    ctx.start_session()
    records, ctx.layer["bench.derive_s"] = ctx.timed(
        "bench.derive", _derive_mix, ctx, n, p, 256 if ctx.smoke else HOST_POOL
    )

    def load():
        read = ctx.spark.read.parquet
        return read(os.path.join(ctx.work, NESTED_FILE)), read(os.path.join(ctx.work, PREFIX_FILE))

    (df, src), ctx.layer["session.load_tables_s"] = ctx.timed("bench.load", load)
    proc, init_s = ctx.timed(
        "compat.init", AvroSqlProcessor, ctx.spark, json.dumps(data.HOST_AVRO_SCHEMA), HOST_QUERY
    )
    ctx.layer["compat.init_ms"] = init_s * 1000
    avro_path = os.path.join(ctx.work, AVRO_FILE)
    os.makedirs(os.path.dirname(avro_path), exist_ok=True)
    rng = np.random.default_rng(ctx.seed)
    shapes = _nested_shapes()
    order = [shapes[i][0] for i in rng.permutation(len(shapes))]
    cursor = [int(rng.integers(0, len(records)))]
    leaf_counts: dict[str, int] = {}

    def shape_op(q: str, traced: bool) -> dict:
        gid = ctx.new_group()
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.op"):
            out, build_s = ctx.timed("reshape.build", reshape, df, q)
            _, exec_s = ctx.timed("reshape.exec", _write_noop, out)
        op = {"kind": q, "wall": time.perf_counter() - t0, "build": build_s, "exec": exec_s}
        if traced:

            def probe():
                ctx.count_group(gid)
                (fields, ws), op["parse"] = ctx.timed("plans.parse", parse, q)
                _, op["plan"] = ctx.timed("plans.plan", plan_withstructure if ws else plan_flatten, df.schema, fields)
                if q not in leaf_counts:
                    leaf_counts[q] = read_leaf_fields(out)
                op["leaves"] = leaf_counts[q]

            ctx.probes.append(probe)
        return op

    def container():
        with open(avro_path, "rb") as f:
            return read_container(f)

    def avro_op(traced: bool) -> dict:
        gid = ctx.new_group()
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.op"):
            _, write_s = ctx.timed("avro_io.write", write_avro_fallback, src, avro_path, codec="deflate")
            back, read_s = ctx.timed("avro_io.read_fallback", read_avro_fallback, ctx.spark, avro_path)
            out, _ = ctx.timed("reshape.build", reshape, back, AVRO_QUERY)
            _, scan_s = ctx.timed("reshape.exec", _write_noop, out)
        op = {"kind": "avro", "wall": time.perf_counter() - t0, "write": write_s, "read": read_s, "scan": scan_s}
        if traced:

            def probe():
                # every cycle writes the same records, so the last file stands for each
                ctx.count_group(gid)
                _, op["container"] = ctx.timed("avro_io.read_container", container)
                op["bytes"] = os.path.getsize(avro_path)

            ctx.probes.append(probe)
        return op

    def apply_op(size: int, traced: bool) -> dict:
        start = cursor[0]
        cursor[0] = (start + size) % len(records)
        batch = [records[(start + i) % len(records)] for i in range(size)]
        gid = ctx.new_group()
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.op"):
            ctx.timed("compat.apply", proc.apply, batch)
        op = {"kind": "apply", "wall": time.perf_counter() - t0}
        if traced:
            ctx.probes.append(lambda: op.update(jobs=ctx.count_group(gid)["jobs"]))
        return op

    def one_round(traced: bool) -> list:
        ops = _interleave(
            [lambda q=q: shape_op(q, traced) for q in order],
            [lambda: avro_op(traced)] * AVRO_CYCLES,
            [lambda s=s: apply_op(s, traced) for s in HOST_BATCHES],
        )
        return [ctx.attempt(op) for op in ops]

    plain, traced = _measure(ctx, one_round, MIX_WARM_ROUNDS)

    # gates, after the timed phase; the shapes are checked on the first
    # quarter of the customers (4 of the 16 row groups)
    part = df.where(df.c_custkey <= n // 4)
    for i, (q, expected) in enumerate(shapes):
        ctx.gate(f"reshape_mix.shape{i}", lambda: frame_hash(reshape(part, q)) == frame_hash(expected(part)))

    def roundtrip() -> bool:
        written = write_avro_fallback(src, avro_path, codec="deflate")
        return written == p and frame_hash(read_avro_fallback(ctx.spark, avro_path)) == frame_hash(src)

    ctx.gate("reshape_mix.avro_roundtrip", roundtrip)
    for size in sorted(set(HOST_BATCHES)):
        batch = records[:size] if size > 1 else records[200:201]
        ctx.gate(f"reshape_mix.apply_batch{size}",
                 lambda b=batch: proc.apply(b) == [_host_expected(r) for r in b])

    # throughputs are rows over total time, so one slow operation moves
    # them by its share of the time; a median of a few samples can jump
    shape_ops = [op for op in _ops(plain) if op["kind"] in order]
    avro = _ops(plain, "avro")
    e2e = _e2e(
        ctx,
        wall_s=median(_round_walls(plain)),
        records_per_s=n * len(shape_ops) / sum(op["wall"] for op in shape_ops),
        write_rows_per_s=p * len(avro) / sum(op["write"] for op in avro),
        read_rows_per_s=p * len(avro) / sum(op["read"] for op in avro),
        call_s=[op["wall"] for op in _ops(plain, "apply")],
    )
    t_avro, t_apply = _ops(traced, "avro"), _ops(traced, "apply")
    t_shapes = [op for op in _ops(traced) if op["kind"] in order]
    return e2e, {
        "plans.parse_ms": median([op["parse"] for op in t_shapes]) * 1000,
        "plans.plan_ms": median([op["plan"] for op in t_shapes]) * 1000,
        "reshape.build_ms": median([op["build"] for op in t_shapes]) * 1000,
        "reshape.exec_ms": median([op["exec"] for op in t_shapes]) * 1000,
        "reshape.read_leaf_fields": mean([op["leaves"] for op in t_shapes]),
        "avro_io.write_s": median([op["write"] for op in t_avro]),
        "avro_io.bytes_per_row": median([op["bytes"] for op in t_avro]) / p,
        "avro_io.read_container_s": median([op["container"] for op in t_avro]),
        "avro_io.read_fallback_s": median([op["read"] for op in t_avro]),
        "avro_io.scan_exec_s": median([op["scan"] for op in t_avro]),
        "compat.apply_ms": median([op["wall"] for op in t_apply]) * 1000,
        "compat.jobs_per_call": mean([op["jobs"] for op in t_apply]),
    }


def _entry(key: str, value):
    from pyspark.sql import functions as F

    return F.struct(F.lit(key).alias("key"), value.alias("value"))


def _nested_shapes():
    """(query, independently written F.col projection of the same paths)."""
    from pyspark.sql import functions as F

    c = F.col
    return [
        (
            "SELECT c_custkey, c_name, profile.segment, profile.acctbal",
            lambda d: d.select("c_custkey", "c_name", c("profile.segment").alias("segment"),
                               c("profile.acctbal").alias("acctbal")),
        ),
        (
            "SELECT c_custkey, profile.address.*",
            lambda d: d.select("c_custkey", c("profile.address.city").alias("city"),
                               c("profile.address.zip").alias("zip")),
        ),
        (
            "SELECT c_custkey as id, profile.address.city as city, profile.nation as nation",
            lambda d: d.select(c("c_custkey").alias("id"), c("profile.address.city").alias("city"),
                               c("profile.nation").alias("nation")),
        ),
        (
            "SELECT c_name as name, profile.*",
            lambda d: d.select(c("c_name").alias("name"), c("profile.segment").alias("segment"),
                               c("profile.acctbal").alias("acctbal"), c("profile.nation").alias("nation"),
                               c("profile.address").alias("address")),
        ),
        (
            "SELECT c_custkey, orders.o_orderkey, orders.o_totalprice FROM t withstructure",
            lambda d: d.select("c_custkey", F.transform("orders", lambda o: F.struct(
                o["o_orderkey"].alias("o_orderkey"), o["o_totalprice"].alias("o_totalprice"))).alias("orders")),
        ),
        (
            "SELECT c_custkey, orders.lineitems.l_extendedprice, orders.lineitems.l_discount "
            "FROM t withstructure",
            lambda d: d.select("c_custkey", F.transform("orders", lambda o: F.struct(
                F.transform(o["lineitems"], lambda li: F.struct(
                    li["l_extendedprice"].alias("l_extendedprice"),
                    li["l_discount"].alias("l_discount"))).alias("lineitems"))).alias("orders")),
        ),
        (
            "SELECT orders.*, orders.o_orderkey as ok FROM t withstructure",
            lambda d: d.select(F.transform("orders", lambda o: F.struct(
                o["o_orderstatus"].alias("o_orderstatus"), o["o_totalprice"].alias("o_totalprice"),
                o["o_orderdate"].alias("o_orderdate"), o["o_orderpriority"].alias("o_orderpriority"),
                o["lineitems"].alias("lineitems"), o["o_orderkey"].alias("ok"))).alias("orders")),
        ),
        (
            "SELECT c_custkey, attrs.tier as level, attrs.channel FROM t withstructure",
            lambda d: d.select("c_custkey", F.map_from_entries(F.filter(
                F.array(_entry("level", c("attrs")["tier"]), _entry("channel", c("attrs")["channel"])),
                lambda e: e["value"].isNotNull())).alias("attrs")),
        ),
        (
            "SELECT c_name, profile.address.city, orders.o_orderdate, attrs FROM t withstructure",
            lambda d: d.select("c_name", F.struct(F.struct(c("profile.address.city").alias("city"))
                                                  .alias("address")).alias("profile"),
                               F.transform("orders", lambda o: F.struct(
                                   o["o_orderdate"].alias("o_orderdate"))).alias("orders"),
                               "attrs"),
        ),
    ]


# ==========================================================================
# operator_chain: iterative and scan/aggregate registry entries
# ==========================================================================

# entry -> the table that drives it (its rows count as the entry's records)
CHAIN = {
    "q1_pricing_summary": "lineitem",
    "corpus_funnel": "documents",
    "copurchase_components": "lineitem",
    "ann_recall": "embeddings",
    "minhash_calibration": "documents",
}
# Fixed tables, so the gate can compare against frozen hashes; the seed
# picks the rotation order. Sizes are sf0.01 (full) and sf0.001 (smoke)
# of the repository's test tables: lineitem, documents, embeddings rows.
CHAIN_SEED = 20240501
CHAIN_SIZES = {"full": (60_000, 500, 500), "smoke": (6_000, 500, 500)}


def chain_outputs(spark, entries: dict, tables: str) -> dict:
    """[row count, rows hash] of every chained entry's collected output,
    each entry run with cold caches as in the timed phase."""
    out = {}
    for name in CHAIN:
        spark.catalog.clearCache()
        sweep_persisted_rdds(spark)
        rows = entries[name](spark, tables).collect()
        out[name] = [len(rows), rows_hash(rows)]
    return out


def operator_chain(ctx: Ctx) -> dict:
    import __spark_entry__
    from avro_sql_spark.session import load_tables

    scale = "smoke" if ctx.smoke else "full"
    ctx.start_session()
    tables_dir = os.path.join(ctx.work, "tables")

    def derive():
        tables = data.flat_tables(CHAIN_SEED, *CHAIN_SIZES[scale])
        for name, table in tables.items():
            data.write_parquet(table, os.path.join(tables_dir, f"{name}.parquet"))
        return {name: tables[t].num_rows for name, t in CHAIN.items()}

    input_rows, ctx.layer["bench.derive_s"] = ctx.timed("bench.derive", derive)
    _, ctx.layer["session.load_tables_s"] = ctx.timed(
        "session.load_tables", load_tables, ctx.spark, tables_dir, register=False
    )
    entries = __spark_entry__.queries()

    # gate, before timing: it is also the warm-up pass, which this
    # workload cannot afford twice within the run budget
    with open(FROZEN_PATH) as f:
        frozen = json.load(f)[scale]
    got = chain_outputs(ctx.spark, entries, tables_dir)
    for name in CHAIN:
        ctx.gate(f"operator_chain.{name}", lambda name=name: got[name] == frozen[name])
    output_rows = {name: got[name][0] for name in CHAIN}
    order = [list(CHAIN)[i] for i in np.random.default_rng(ctx.seed).permutation(len(CHAIN))]

    def op(name: str, traced: bool) -> dict:
        ctx.spark.catalog.clearCache()
        sweep_persisted_rdds(ctx.spark)
        build_gid = ctx.new_group()
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.op"):
            df, build_s = ctx.timed("operators.build", entries[name], ctx.spark, tables_dir)
            exec_gid = ctx.new_group()
            _, exec_s = ctx.timed("operators.exec", _write_noop, df)
        op = {"kind": name, "wall": time.perf_counter() - t0, "build_s": build_s, "exec_s": exec_s}
        if traced:

            def probe():
                op["eager_jobs"] = ctx.count_group(build_gid)["jobs"]
                op["jobs"] = op["eager_jobs"] + ctx.count_group(exec_gid)["jobs"]

            ctx.probes.append(probe)
        return op

    plain, traced = _measure(ctx, lambda traced: [ctx.attempt(lambda n=n: op(n, traced)) for n in order], 0)
    wall = sum(_median_by_kind(plain, "wall").values())
    exec_s = sum(_median_by_kind(plain, "exec_s").values())
    in_rows = sum(input_rows.values())
    e2e = _e2e(ctx, wall, in_rows / wall, sum(output_rows.values()) / exec_s, in_rows / wall,
               [op["wall"] for op in _ops(plain)])
    layer = {}
    for key in ("build_s", "eager_jobs", "exec_s", "jobs"):
        per_entry = _median_by_kind(traced, key)
        layer.update({f"operators.{name}.{key}": v for name, v in per_entry.items()})
        layer[f"operators.{key}"] = sum(per_entry.values())
    return e2e, layer


WORKLOADS = {
    "reshape_mix": reshape_mix,
    "operator_chain": operator_chain,
}

# ==========================================================================
# metric catalogue (BENCHMARK.json lists the same names and units)
# ==========================================================================

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "records_per_s": "1/s",
    "write_rows_per_s": "1/s",
    "read_rows_per_s": "1/s",
    "call_p50_ms": "ms",
    "call_p90_ms": "ms",
    "driver_rss_peak_mb": "MB",
}

_SELF_LAYERS = ("session", "bench", "plans", "reshape", "avro_io", "compat", "operators")

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.load_tables_s": "s",
    "bench.derive_s": "s",
    "compat.init_ms": "ms",
    "plans.parse_ms": "ms",
    "plans.plan_ms": "ms",
    "reshape.build_ms": "ms",
    "reshape.exec_ms": "ms",
    "reshape.read_leaf_fields": "count",
    "avro_io.write_s": "s",
    "avro_io.bytes_per_row": "B/row",
    "avro_io.read_container_s": "s",
    "avro_io.read_fallback_s": "s",
    "avro_io.scan_exec_s": "s",
    "compat.apply_ms": "ms",
    "compat.jobs_per_call": "count",
    **{
        f"operators.{scope}{key}": unit
        for scope in ["", *(f"{name}." for name in CHAIN)]
        for key, unit in (("build_s", "s"), ("eager_jobs", "count"), ("exec_s", "s"), ("jobs", "count"))
    },
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "control.drift_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    **{f"{layer}.self_s": "s" for layer in _SELF_LAYERS},
}


def run(name: str, ctx: Ctx) -> dict:
    """Run one workload; return the fields of the result line."""
    e2e, specific = WORKLOADS[name](ctx)
    if ctx.trace:
        selfs = ctx.tracer.self_seconds()
        values = dict.fromkeys(LAYER_UNITS, 0.0)  # layers this workload never calls stay 0
        values.update({k: v for k, v in ctx.layer.items() if k in LAYER_UNITS})
        values.update(specific)
        values.update({f"spark.{k}": v / max(ctx.counted_ops, 1) for k, v in ctx.counters.items()})
        values.update({f"{layer}.self_s": selfs.get(layer, 0.0) for layer in _SELF_LAYERS})
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    return {
        "correct": bool(ctx.gates) and all(ctx.gates.values()),
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
