"""Seeded CDC feed for the ``cdc_stream`` workload and its reference model.

Each round lands one JSONL file per table in the Debezium-unwrapped shape
of ``CUSTOMERS_SCHEMA`` / ``ORDERS_SCHEMA`` / ``SHIPMENTS_SCHEMA``
(``streaming/pipeline.py``).  Event time advances ``STEP_S`` per round.

Per round:

- customers: updates, deletes (``__deleted=true``), re-inserts and
  inserts over a fixed id pool; one id may change twice in a round;
- orders: fresh ids, ``customer_id`` skewed (power law) over the pool,
  with some unknown ids and, through the deletes, some deleted ids;
- shipments: most land with their order inside the 7-day window, some
  one round later, some outside the window, a few re-ship an order of an
  earlier round (a sink update);
- late pairs: an order and its shipment both ~30 days behind the
  newest event time.  The watermark (newest event time minus 7 days)
  has long passed them, so the join drops both rows.

Every row is either far behind the watermark or well ahead of it, so
:class:`Reference` never models a boundary tick.  It asserts that, and
it asserts that no expected match depends on a row the join state may
already have evicted.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

DAY_S = 86_400
STEP_S = DAY_S  # event time advance per round
WINDOW_S = 7 * DAY_S  # interval join bound and watermark delay
T0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
LATE_BEHIND_S = 30 * DAY_S
MARGIN_S = DAY_S  # minimum distance of any row from the watermark
POOL = 2000  # customer ids
ORDERS = 1000  # new orders per round
CHANGES = 300  # customer changes per round after the first

ORIGINS = ("berlin", "lyon", "madrid", "oslo", "porto", "warsaw")
CURRENCIES = ("EUR", "USD", "GBP")


def fmt_ts(sec: int) -> str:
    return dt.datetime.fromtimestamp(sec, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")


class CdcFeed:
    """Deterministic per-seed generator; call :meth:`next_round` in order."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.round = 0
        self.live: dict[str, tuple[str, int]] = {}  # id -> (name, age)
        self.deleted: dict[str, tuple[str, int]] = {}
        self.fresh = [f"c{i:05d}" for i in range(POOL)]
        self.rng.shuffle(self.fresh)
        # power-law popularity over the whole pool, fixed per seed
        ranks = list(range(POOL))
        self.rng.shuffle(ranks)
        self.weights = [1.0 / (k + 1) ** 0.9 for k in ranks]
        self.pool_ids = [f"c{i:05d}" for i in range(POOL)]
        self.c_off = 0
        self.o_off = 0
        self.s_off = 0
        self.pending_ships: list[dict] = []  # delayed to the next round
        self.shippable: list[list[tuple[str, int]]] = []  # per round: (order_id, ts)

    # -- customers -----------------------------------------------------
    def _cust_row(self, cid: str, name: str, age: int, deleted: bool) -> dict:
        self.c_off += 1
        return {"id": cid, "name": name, "age": age, "__deleted": deleted,
                "_offset": self.c_off}

    def _customers(self) -> list[dict]:
        rng = self.rng
        rows = []
        if self.round == 0:
            kinds = ["insert"] * int(POOL * 0.6)
        else:
            kinds = rng.choices(
                ["update", "delete", "reinsert", "insert"],
                weights=[45, 15, 15, 25], k=CHANGES,
            )
        for kind in kinds:
            if kind == "insert" and not self.fresh:
                kind = "update"
            if kind == "reinsert" and not self.deleted:
                kind = "update"
            if kind in ("update", "delete") and not self.live:
                kind = "insert" if self.fresh else "reinsert"
            if kind == "insert":
                cid = self.fresh.pop()
                name, age = f"n{rng.randrange(10**6)}", rng.randrange(18, 90)
                self.live[cid] = (name, age)
                rows.append(self._cust_row(cid, name, age, False))
            elif kind == "reinsert":
                cid = rng.choice(sorted(self.deleted))
                del self.deleted[cid]
                name, age = f"n{rng.randrange(10**6)}", rng.randrange(18, 90)
                self.live[cid] = (name, age)
                rows.append(self._cust_row(cid, name, age, False))
            elif kind == "update":
                cid = rng.choice(sorted(self.live))
                name, age = f"n{rng.randrange(10**6)}", rng.randrange(18, 90)
                self.live[cid] = (name, age)
                rows.append(self._cust_row(cid, name, age, False))
            else:  # delete: Debezium rewrite mode keeps the last values
                cid = rng.choice(sorted(self.live))
                name, age = self.live.pop(cid)
                self.deleted[cid] = (name, age)
                rows.append(self._cust_row(cid, name, age, True))
        return rows

    # -- orders and shipments ------------------------------------------
    def _ship_row(self, order_id: str, ts: int) -> dict:
        self.s_off += 1
        return {"order_id": order_id, "shipment_id": f"s{self.s_off:08d}",
                "origin": self.rng.choice(ORIGINS), "ts": fmt_ts(ts),
                "_offset": self.s_off}

    def _order_row(self, order_id: str, cust: str, ts: int) -> dict:
        self.o_off += 1
        rng = self.rng
        return {"customer_id": cust, "order_id": order_id,
                "price": round(rng.uniform(5, 500), 2),
                "currency": rng.choice(CURRENCIES), "ts": fmt_ts(ts),
                "_offset": self.o_off}

    def next_round(self) -> dict[str, list[dict]]:
        rng = self.rng
        r = self.round
        base = T0 + r * STEP_S
        customers = self._customers()
        orders, ships = [], list(self.pending_ships)
        self.pending_ships = []
        custs = rng.choices(self.pool_ids, weights=self.weights, k=ORDERS)
        shippable = []
        for i, cust in enumerate(custs):
            if rng.random() < 0.04:
                cust = f"x{rng.randrange(10**4):04d}"  # never in the pool
            oid = f"o{r:05d}{i:05d}"
            ots = base + rng.randrange(STEP_S)
            orders.append(self._order_row(oid, cust, ots))
            u = rng.random()
            if u < 0.70:
                ships.append(self._ship_row(oid, ots + rng.randrange(3 * DAY_S)))
                shippable.append((oid, ots))
            elif u < 0.85:  # lands with the next round, still in the window
                self.pending_ships.append(
                    self._ship_row(oid, ots + rng.randrange(3 * DAY_S)))
                shippable.append((oid, ots))
            elif u < 0.93:  # outside the 7-day window: never joins
                ships.append(self._ship_row(
                    oid, ots + WINDOW_S + DAY_S + rng.randrange(2 * DAY_S)))
        # re-ship a few orders of the two previous rounds (sink updates)
        for prior in self.shippable[-2:]:
            for oid, ots in rng.sample(prior, k=min(len(prior), ORDERS // 40)):
                ships.append(self._ship_row(oid, ots + rng.randrange(3 * DAY_S)))
        self.shippable = (self.shippable + [shippable])[-2:]
        if r >= 1:  # late pairs, far behind the watermark
            for i in range(ORDERS // 50):
                oid = f"L{r:05d}{i:05d}"
                ots = base - LATE_BEHIND_S + rng.randrange(STEP_S)
                orders.append(self._order_row(oid, rng.choice(self.pool_ids), ots))
                ships.append(self._ship_row(oid, ots + rng.randrange(DAY_S)))
        rng.shuffle(ships)
        self.round += 1
        return {"customers": customers, "orders": orders, "shipments": ships}


def land_round(src_dir: str, staging: str, r: int, rows: dict[str, list[dict]]) -> int:
    """Write each table's file into ``staging`` then rename it into its
    source directory, with an mtime that increases per round.  Returns
    the number of records landed."""
    n = 0
    mtime = 1_700_000_000 + r
    for table, recs in rows.items():
        os.makedirs(os.path.join(src_dir, table), exist_ok=True)
        tmp = os.path.join(staging, f"{table}-{r:05d}.json")
        with open(tmp, "w") as fh:
            for rec in recs:
                fh.write(json.dumps(rec))
                fh.write("\n")
        os.utime(tmp, (mtime, mtime))
        os.replace(tmp, os.path.join(src_dir, table, f"r{r:05d}.json"))
        n += len(recs)
    return n


def _epoch(ts: str) -> int:
    return int(dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S")
               .replace(tzinfo=dt.timezone.utc).timestamp())


class Reference:
    """Round-by-round model of the two state tables the flagship keeps.

    - ``customers_by_key``: per id the highest-offset change; ids whose
      latest change is a delete are absent.
    - ``shipped_orders``: order x shipment pairs within 7 days of each
      other, emitted in the round the later row arrives, enriched with
      the customer state as of that round (J1), upserted per order by
      shipment offset.  Rows at or behind the previous round's watermark
      are dropped; the watermark is the minimum over both inputs of
      (newest event time - 7 days).
    """

    def __init__(self):
        self.customers: dict[str, dict] = {}
        self.orders: dict[str, tuple[dict, int]] = {}  # id -> (row, ts)
        self.ships: dict[str, list[tuple[dict, int]]] = {}
        self.shipped: dict[str, dict] = {}
        self.max_o = self.max_s = None
        self.watermark = 0
        self.late_dropped = 0
        self.changed_last = 0  # sink keys the last round wrote

    def _check_margin(self, ts: int) -> bool:
        """True if the row is late; raise if it sits near the watermark."""
        if self.watermark == 0:
            return False
        if abs(ts - self.watermark) < MARGIN_S:
            raise AssertionError(f"row at {ts} within a day of watermark {self.watermark}")
        return ts <= self.watermark

    def apply(self, rows: dict[str, list[dict]]) -> None:
        for rec in sorted(rows["customers"], key=lambda c: c["_offset"]):
            if rec["__deleted"]:
                self.customers.pop(rec["id"], None)
            else:
                self.customers[rec["id"]] = {k: rec[k] for k in ("id", "name", "age", "_offset")}
        emitted: list[tuple[dict, dict]] = []
        new_orders = []
        for o in rows["orders"]:
            ts = _epoch(o["ts"])
            self.max_o = ts if self.max_o is None else max(self.max_o, ts)
            if self._check_margin(ts):
                self.late_dropped += 1
                continue
            self.orders[o["order_id"]] = (o, ts)
            new_orders.append(o["order_id"])
        for s in rows["shipments"]:
            ts = _epoch(s["ts"])
            self.max_s = ts if self.max_s is None else max(self.max_s, ts)
            if self._check_margin(ts):
                self.late_dropped += 1
                continue
            hit = self.orders.get(s["order_id"])
            if hit is not None and abs(ts - hit[1]) <= WINDOW_S:
                if hit[1] < self.watermark - WINDOW_S + MARGIN_S:
                    raise AssertionError("match depends on an evictable order")
                emitted.append((hit[0], s))
            self.ships.setdefault(s["order_id"], []).append((s, ts))
        # shipments already buffered that match an order of this round
        arrived = {id(s) for s in rows["shipments"]}
        for oid in new_orders:
            o, ots = self.orders[oid]
            for s, sts in self.ships.get(oid, ()):
                if id(s) not in arrived and abs(sts - ots) <= WINDOW_S:
                    emitted.append((o, s))
        changed = set()
        for o, s in emitted:
            cust = self.customers.get(o["customer_id"])
            row = {
                "order_id": o["order_id"], "shipment_id": s["shipment_id"],
                "customer_id": o["customer_id"], "origin": s["origin"],
                "price": o["price"], "currency": o["currency"],
                "_offset": s["_offset"],
                "customer_name": cust["name"] if cust else None,
                "customer_age": cust["age"] if cust else None,
            }
            prior = self.shipped.get(o["order_id"])
            if prior is None or prior["_offset"] < row["_offset"]:
                self.shipped[o["order_id"]] = row
                changed.add(o["order_id"])
        self.changed_last = len(changed)
        self.watermark = max(
            self.watermark,
            min(self.max_o - WINDOW_S, self.max_s - WINDOW_S),
        )

    @staticmethod
    def table(rows: dict[str, dict]) -> tuple[list[str], list[tuple]]:
        vals = list(rows.values())
        if not vals:
            return [], []
        cols = list(vals[0])
        return cols, [tuple(v[c] for c in cols) for v in vals]
