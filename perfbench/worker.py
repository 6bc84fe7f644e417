"""One benchmark process: set up a session, run one workload, write a result.

Started by ``run.py`` in a fresh interpreter for every run, so the first
operation pays codegen, JIT and ``_stage_memo`` builds.  It drives the
program only through ``session.build_session``,
``streaming.pipeline.run_flagship_stream`` and ``__spark_entry__``.

    python3 worker.py --workload W --seed N --seconds S --trace 0|1
                      --launched <epoch s> --tmp DIR --data DIR --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import time

# The registry slice that covers the reference's ksqlDB surface in batch form.
KSQL_SLICE = (
    "flagship_shipped_orders", "latest_by_offset", "stream_table_enrich",
    "interval_join_bucketed", "asof_join", "windowed_agg_tumbling", "hopping_agg",
    "topn_per_group", "agg_summary", "top_revenue_orders",
    "regional_supplier_volume", "large_order_customers",
    "returned_item_customers", "dedup_exact",
)


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the driver JVM it launched."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total / 1024.0


def setup(args):
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.session import build_session

    conf = {
        "spark.local.dir": os.path.join(args.tmp, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(args.tmp, 'tmp')}",
    }
    if args.trace:
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": str(port)})
    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", extra_conf=conf)
    build_s = time.perf_counter() - t0
    spark.range(1).count()
    return spark, time.time() - args.launched, build_s


# Rounds (passes) after the cold one that run and are checked but not
# measured, while the JIT settles.  The first rounds after the cold one
# run at 1.2-1.5x the steady round time and fall to it over about four
# rounds, at a pace that varies between runs; the first pass after the
# cold one is ~10% slower than the ones after it.
SETTLE = {"cdc_stream": 3, "batch_ksql": 1}


class Window:
    """The measured window: units (rounds or passes) run while the last
    unit's duration predicts the next one ends within ``seconds``, and at
    least ``min_units`` run: two passes, so a traced run has a traced and
    an untraced one and a pass count does not flip between one and two;
    four rounds, so ``op_tail_s`` never falls back to the maximum."""

    def __init__(self, seconds: float, min_units: int):
        self.seconds, self.min_units = seconds, min_units
        self.units, self.last, self.t0 = 0, 0.0, None

    def start(self) -> None:
        self.t0 = time.perf_counter()

    def done(self, sec: float) -> None:
        self.units += 1
        self.last = sec

    def more(self) -> bool:
        if self.units < self.min_units:
            return True
        return time.perf_counter() - self.t0 + self.last <= self.seconds


def run_cdc(spark, args, ops: list[dict], tr):
    import pyarrow.parquet as pq
    from gen_cdc import CdcFeed, Reference, land_round
    from tools.check import value_hash
    from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.streaming.pipeline import (
        run_flagship_stream,
    )

    src, work, staging = (os.path.join(args.tmp, d) for d in ("src", "work", "staging"))
    for d in (src, work, staging):
        os.makedirs(d, exist_ok=True)
    feed, ref = CdcFeed(args.seed), Reference()

    def state(name):
        d = os.path.join(work, "state", name)
        with open(os.path.join(d, "_LATEST")) as fh:
            t = pq.read_table(os.path.join(d, f"v={fh.read().strip()}"))
        return t.column_names, [tuple(r.values()) for r in t.to_pylist()]

    def matches(got, want):
        return sorted(got[0]) == sorted(want[0]) and value_hash(*got) == value_hash(*want)

    settle = SETTLE["cdc_stream"]
    r, window = 0, Window(args.seconds, min_units=4)
    while r <= settle or window.more():
        rows = feed.next_round()
        n = land_round(src, staging, r, rows)
        kind = "cold" if r == 0 else "settle" if r <= settle else "warm"
        # the cold round and every other later round
        traced = tr is not None and r % 2 == 0
        if tr is not None:
            tr.begin(f"round{r}", traced)
        ok = True
        t0 = time.perf_counter()
        try:
            run_flagship_stream(spark, src, work)
        except Exception as exc:  # noqa: BLE001 - a failed round is counted, not fatal
            print(f"round {r} failed: {type(exc).__name__}: {exc}"[:300], flush=True)
            ok = False
        dt_s = time.perf_counter() - t0
        changed_customers = len({c["id"] for c in rows["customers"]})
        ref.apply(rows)
        if tr is not None:
            tr.end(f"round{r}", traced, kind == "warm", dt_s, rounds_landed=r + 1, changed={
                "customers": changed_customers, "shipped": ref.changed_last})
        if ok:
            ok = (matches(state("customers_by_key"), Reference.table(ref.customers))
                  and matches(state("shipped_orders"), Reference.table(ref.shipped)))
            if not ok:
                print(f"round {r}: state differs from the reference", flush=True)
        ops.append({"kind": kind, "sec": dt_s, "ok": ok, "records": n, "traced": traced,
                    "name": f"round{r}"})
        if r == settle:
            window.start()
        elif kind == "warm":
            window.done(dt_s)
        r += 1
    return {"warm_rounds": r - 1 - settle, "late_dropped": ref.late_dropped}


def _tables_of(sql: str) -> set[str]:
    import re

    return {m.lower() for m in re.findall(r"\b(?:FROM|JOIN)\s+([A-Za-z_]+)", sql)}


def run_batch(spark, args, ops: list[dict], tr):
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from tools import check
    from tools.check import value_hash

    qs, oracles = entry.queries(), entry.oracle_sql()
    tables = {f[:-8] for f in os.listdir(args.data) if f.endswith(".parquet")}
    table_rows = {t: pq.ParquetFile(os.path.join(args.data, f"{t}.parquet")).metadata.num_rows
                  for t in tables}
    rows_per_call = {n: sum(table_rows[t] for t in _tables_of(oracles[n]) & tables)
                     for n in KSQL_SLICE}

    got: dict[str, tuple[list[str], list[tuple]]] = {}

    def call(name, pass_no, kind, traced):
        op = f"{name}#{pass_no}"
        if tr is not None:
            tr.begin(op, traced)
        ok = True
        t0 = time.perf_counter()
        try:
            if traced:
                with tr.tracer.span("entry.build", q=None):
                    df = qs[name](spark, args.data)
                tr.mark_build_end()
            else:
                df = qs[name](spark, args.data)
            if kind == "settle":  # unmeasured: its rows are what the oracle checks
                got[name] = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
            print(f"{name} failed: {type(exc).__name__}: {exc}"[:300], flush=True)
            ok = False
        dt_s = time.perf_counter() - t0
        if tr is not None:
            tr.end(op, traced, kind == "warm", dt_s)
        ops.append({"kind": kind, "sec": dt_s, "ok": ok, "records": rows_per_call[name],
                    "traced": traced, "name": name})

    settle = SETTLE["batch_ksql"]
    p, window = 0, Window(args.seconds, min_units=2)
    while p <= settle or window.more():  # whole passes, so every run sees the same mix
        kind = "cold" if p == 0 else "settle" if p <= settle else "warm"
        t0 = time.perf_counter()
        for name in KSQL_SLICE:
            # the cold pass and every other later pass
            call(name, p, kind, tr is not None and p % 2 == 0)
        spark.catalog.clearCache()
        if p == settle:
            window.start()
        elif kind == "warm":
            window.done(time.perf_counter() - t0)
        p += 1

    # Oracle check of the rows the settle pass collected, outside every
    # timed region.
    t_check = time.perf_counter()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.data}/{t}.parquet')")
    results = {}
    for name in KSQL_SLICE:
        try:
            cur = con.execute(oracles[name])
            want = ([d[0] for d in cur.description], cur.fetchall())
            results[name] = (got[name], want) if name in got else None
        except Exception as exc:  # noqa: BLE001 - a failed check fails the query
            print(f"{name} check failed: {type(exc).__name__}: {exc}"[:300], flush=True)
            results[name] = None

    def mismatches(sig_digits):
        check._SIG_DIGITS = sig_digits
        return [n for n, r in results.items() if r is None or sorted(r[0][0]) != sorted(r[1][0])
                or value_hash(*r[0]) != value_hash(*r[1])]

    # Sums at sf0.1 reach ~3e9, where the default 9-decimal-place rule
    # compares below one ULP; the 12-significant-digit rule (check.py's
    # ``--sigdigits 12``) gates.  What the default rule flags is reported.
    mismatch_9dp = mismatches(None)
    bad = mismatches(12)
    for name in bad:
        print(f"{name}: result differs from the oracle", flush=True)
    for o in ops:
        if o["name"] in bad:
            o["ok"] = False
    return {"warm_passes": p - 1 - settle, "oracle_mismatch": bad, "mismatch_9dp": mismatch_9dp,
            "check_s": time.perf_counter() - t_check}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--launched", type=float, required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--data")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    spark, setup_s, build_s = setup(args)
    result = {"setup_s": setup_s, "session.build_s": build_s}
    try:
        tr = None
        if args.trace:
            from tracing import TracedRun

            tr = TracedRun(spark)
        ops: list[dict] = []
        run = run_cdc if args.workload == "cdc_stream" else run_batch
        result["info"] = run(spark, args, ops, tr)
        result["ops"] = ops
        result["cores"] = spark.sparkContext.defaultParallelism
        if tr is not None:
            result["layers"] = tr.summary()
            tr.tracer.dump(os.path.join(os.path.dirname(args.out), "spans.jsonl"))
        result["peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
