"""olap_mix: the reference's pandas surface on a seeded star schema.

One operation is one query, issued only after the previous one
returned (closed loop, one client). A step runs the six templates once,
in a fixed order, so every run times the same mix whatever its number
of steps. One untimed step first pays JIT and codegen for each
template; a run then times at least two steps, so each template's
median rests on two warm queries (a third would not fit the time
budget of a full measurement).
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd

import charmpandas_spark as cps
from check import Expected
from common import Step, tree_cpu_s

# one query per template; the parameter advances with each cycle
CYCLE = ["q1", "star", "demo", "skew", "anti", "sort"]
Q1_DAYS = [2900, 3000, 3100, 3200, 3300, 3400]
SEGMENTS = ["AUTO", "BUILD", "FURN", "HOUSE", "MACH"]
SKEW_DAYS = [1200, 1800, 2400, 3000]
ANTI_DAYS = [400, 1600]
N_PARAMS = {"q1": len(Q1_DAYS), "star": len(SEGMENTS),
            "skew": len(SKEW_DAYS), "anti": len(ANTI_DAYS), "demo": 1,
            "sort": 1}
PARAMS = [(t, p) for t in CYCLE for p in range(N_PARAMS[t])]

# tables each template scans, for the input-rows throughput
READS = {"q1": ["fact"], "star": ["fact", "product", "customer", "store"],
         "skew": ["fact", "inventory"],
         "anti": ["fact", "customer", "fact", "fact", "targets"],
         "demo": ["ages", "user_ids"], "sort": ["fact"]}


class OlapMix:
    inputs = ["olap_mix"]
    warmup_steps = 1  # checked, but not in the metrics
    min_steps = 2
    python_workers = False  # Arrow fetches run in the driver

    def __init__(self, data: dict, work: str):
        self.d, self.props = data["olap_mix"]
        self.i = 0
        self.rows = {}
        self.expected: dict = {}

    def path(self, table: str) -> str:
        if table in ("user_ids", "ages"):
            return os.path.join(os.path.dirname(self.d), self.props["demo"],
                                table)
        return os.path.join(self.d, table)

    # -- oracle -----------------------------------------------------------
    def prepare(self) -> None:
        """Every (template, parameter) answer from DuckDB, before Spark
        starts, so no oracle work lands in a timed region."""
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in ("fact", "product", "customer", "store", "inventory",
                  "targets", "user_ids", "ages"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.path(t)}/*.parquet')")
            self.rows[t] = con.execute(f"SELECT count(*) FROM {t}") \
                .fetchone()[0]
        q = lambda sql: con.execute(sql).df()  # noqa: E731
        for tpl, p in PARAMS:
            if tpl == "q1":
                d = Q1_DAYS[p]
                want = (q(f"SELECT flag, status, "
                          f"sum(price * (100 - discount)) FROM fact "
                          f"WHERE ship_day <= {d} GROUP BY ALL"),
                        int(q(f"SELECT sum(qty) FROM fact "
                              f"WHERE ship_day <= {d}").iloc[0, 0]))
            elif tpl == "star":
                lo, seg = 365 * p, SEGMENTS[p]
                want = q(f"""
                    SELECT s.region, p.category, sum(f.price * f.qty) AS rev
                    FROM fact f JOIN product p USING (prod_id)
                    JOIN customer c USING (cust_id)
                    JOIN store s USING (store_id)
                    WHERE f.ship_day >= {lo} AND f.ship_day < {lo + 730}
                      AND c.segment = '{seg}'
                    GROUP BY ALL ORDER BY rev DESC, region, category
                    LIMIT 10""")
            elif tpl == "skew":
                want = q(f"""
                    SELECT i.warehouse, sum(f.qty) FROM fact f
                    JOIN inventory i USING (prod_id)
                    WHERE f.ship_day < {SKEW_DAYS[p]} GROUP BY ALL""")
            elif tpl == "anti":
                lo = ANTI_DAYS[p]
                idle = q(f"""
                    SELECT segment, count(cust_id) FROM customer c
                    WHERE NOT EXISTS (SELECT 1 FROM fact f
                        WHERE f.cust_id = c.cust_id AND f.ship_day >= {lo}
                          AND f.ship_day < {lo + 30})
                    GROUP BY ALL""")
                cmp = q("""
                    SELECT s.store_id, s.rev, t.store_id, t.target FROM
                      (SELECT store_id, sum(price) AS rev FROM fact
                       WHERE flag IN ('A', 'R') GROUP BY ALL) s
                    FULL OUTER JOIN targets t ON s.store_id = t.store_id""")
                want = (idle, cmp)
            elif tpl == "demo":
                # the Demo tables are shared by every seed: so is this answer
                cached = os.path.join(os.path.dirname(self.path("ages")),
                                      "oracle_demo.parquet")
                if not os.path.exists(cached):
                    q("""SELECT i.city, count(i.user_id) FROM ages a
                         JOIN user_ids i USING (first_name, last_name)
                         GROUP BY ALL""").to_parquet(cached + ".tmp")
                    os.rename(cached + ".tmp", cached)
                want = pd.read_parquet(cached)
            else:  # sort
                want = q("SELECT order_id, price, qty FROM fact "
                         "WHERE ship_day >= 100")
            self.expected[(tpl, p)] = (
                tuple(Expected(w) if not isinstance(w, int) else w
                      for w in want) if isinstance(want, tuple)
                else Expected(want))
        con.close()

    def start(self, spark) -> None:
        pass

    def install_spans(self, tracer) -> None:
        pass  # the shared DataFrame/sources spans cover this workload

    def layer_metrics(self, steps, tracer) -> dict:
        return {"olap.demo_join_s": demo_median(steps)}

    def aliases(self, steps):
        lat = [x for s in steps for x in s.latencies]
        return [("query_p50_s", float(np.percentile(lat, 50)), "s"),
                ("query_p90_s", float(np.percentile(lat, 90)), "s"),
                ("queries", len(lat), "count"),
                ("demo_join_s", demo_median(steps), "s")]

    # -- one operation ----------------------------------------------------------
    def step(self, spark, tracer) -> list:
        """One cycle: each template once, one record per query."""
        out = []
        for tpl in CYCLE:
            p = self.i % N_PARAMS[tpl]
            want = self.expected[(tpl, p)]
            spark.catalog.clearCache()
            c0 = tree_cpu_s()
            w0, t0 = time.time(), time.perf_counter()
            got = getattr(self, "_" + tpl)(spark, p)
            lat = time.perf_counter() - t0
            w1 = time.time()
            cpu = tree_cpu_s() - c0
            ok, found, total = self._check(tpl, got, want)
            rows = sum(self.rows[t] for t in READS[tpl])
            out.append(Step([lat], rows, lat, ok, found, total, tag=tpl,
                            t0=w0, t1=w1, cpu=cpu))
        self.i += 1
        return out

    def _check(self, tpl, got, want):
        if tpl == "q1":
            ok, found = want[0].compare(got[0])
            ok = ok and got[1] == want[1]
            return ok, found + (got[1] == want[1]), want[0].rows + 1
        if tpl == "anti":
            ok1, f1 = want[0].compare(got[0])
            ok2, f2 = want[1].compare(got[1])
            return ok1 and ok2, f1 + f2, want[0].rows + want[1].rows
        ok, found = want.compare(got)
        if tpl == "sort":
            price = got["price"].to_numpy()
            oid = got["order_id"].to_numpy()
            ordered = np.all((price[1:] > price[:-1])
                             | ((price[1:] == price[:-1])
                                & (oid[1:] > oid[:-1])))
            ok = ok and bool(ordered)
        return ok, found, want.rows

    # -- templates --------------------------------------------------------------
    def _q1(self, spark, p):
        """Q1-like: filter, column arithmetic, groupby sum, scalar sum."""
        f = cps.read_parquet(spark, self.path("fact"))
        f = f[f["ship_day"] <= Q1_DAYS[p]]
        f["disc_price"] = f["price"] * (100 - f["discount"])
        out = f.groupby(["flag", "status"])["disc_price"].sum().get()
        return out, f["qty"].sum()

    def _star(self, spark, p):
        """Star join over broadcast dimensions, then sort and head."""
        lo, seg = 365 * p, SEGMENTS[p]
        f = cps.read_parquet(spark, self.path("fact"))
        f = f[(f["ship_day"] >= lo) & (f["ship_day"] < lo + 730)]
        c = cps.read_parquet(spark, self.path("customer"))
        c = c[c["segment"] == seg]
        j = (f.merge(cps.read_parquet(spark, self.path("product")),
                     on="prod_id")
              .merge(c, on="cust_id")
              .merge(cps.read_parquet(spark, self.path("store")),
                     on="store_id"))
        j["rev"] = j["price"] * j["qty"]
        g = j.groupby(["region", "category"])["rev"].sum()
        return g.sort_values(["sum(rev)", "region", "category"],
                             ascending=[False, True, True]).head(10)

    def _skew(self, spark, p):
        """Shuffle join on the Zipf-skewed product key."""
        f = cps.read_parquet(spark, self.path("fact"))
        f = f[f["ship_day"] < SKEW_DAYS[p]]
        inv = cps.read_parquet(spark, self.path("inventory"))
        with forced_shuffle_join(spark):
            j = f.merge(inv, on="prod_id")
            return j.groupby("warehouse")["qty"].sum().get()

    def _anti(self, spark, p):
        """Anti merge, concat and an outer merge."""
        lo = ANTI_DAYS[p]
        f = cps.read_parquet(spark, self.path("fact"))
        recent = f[(f["ship_day"] >= lo) & (f["ship_day"] < lo + 30)]
        c = cps.read_parquet(spark, self.path("customer"))
        idle = c.merge(recent, on="cust_id", how="left_anti")
        idle_counts = idle.groupby("segment")["cust_id"].count().get()
        fa = cps.read_parquet(spark, self.path("fact"))
        fr = cps.read_parquet(spark, self.path("fact"))
        both = cps.concat([fa[fa["flag"] == "A"], fr[fr["flag"] == "R"]])
        per_store = both.groupby("store_id")["price"].sum()
        t = cps.read_parquet(spark, self.path("targets"))
        return idle_counts, per_store.merge(t, on="store_id",
                                            how="outer").get()

    def _demo(self, spark, p):
        """Demo.ipynb shape (2x1M rows here): string-key join,
        groupby count, fetch."""
        ids = cps.read_parquet(spark, self.path("user_ids"))
        ages = cps.read_parquet(spark, self.path("ages"))
        with forced_shuffle_join(spark):
            joined = ages.merge(ids, on=["first_name", "last_name"])
            return joined.groupby("city")["user_id"].count().get()

    def _sort(self, spark, p):
        """Full sort fetching the ~500k-row fact into pandas."""
        f = cps.read_parquet(spark, self.path("fact"))
        f = f[f["ship_day"] >= 100]
        return f[["order_id", "price", "qty"]] \
            .sort_values(["price", "order_id"]).get()


def demo_median(steps) -> float:
    demo = [x for s in steps if s.tag == "demo" for x in s.latencies]
    return float(np.median(demo)) if demo else 0.0


class forced_shuffle_join:
    """Equal-size sides: no broadcast and no sort-merge preference, the
    join confs of the Demo anchor in ``bench.run_baseline_anchor``."""

    KEYS = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.join.preferSortMergeJoin")

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = {k: self.spark.conf.get(k) for k in self.KEYS}
        self.spark.conf.set(self.KEYS[0], "-1")
        self.spark.conf.set(self.KEYS[1], "false")

    def __exit__(self, *exc):
        for k, v in self.prev.items():
            self.spark.conf.set(k, v)
