"""The offline part of ``batch_pipeline``: the paper's offline vocabulary.

Stages: a PIT training set with a 1 h lag over a balanced and a whale
feature source (so both ASOF strategies run), batch features over a
latest-value materialization with and without timestamps, and a
train/test split (its global row numbering is the chunked export's).
Each stage builds its DataFrame and collects it to pandas, as a
training job would. The two materializations run only inside the
batch-features stage, and the incremental read is left out, to keep a
run within its time budget (every source is still read through
``sources.readers``).
"""

from __future__ import annotations

import os
from datetime import timedelta

from perfbench import gen
from perfbench.checks import duck, same_rows

SIZES = {"full": dict(n_events=40_000, n_orders=8_000),
         "tiny": dict(n_events=6_000, n_orders=5_000)}

# PIT + lag over two feature sources: the registry's C11 replay plus a
# second ASOF join against the whale source
TRAINING_SET_ORACLE = """
WITH evt AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
     wh AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM whale),
     l AS (SELECT DISTINCT user_id AS entity, value, ts FROM evt WHERE event_type = 'purchase'),
     f AS (SELECT user_id, value, ts FROM evt WHERE event_type = 'click'),
     j AS (SELECT l.entity, l.value, l.ts, f.value AS fv,
                  row_number() OVER (PARTITION BY l.entity, l.value, l.ts
                                     ORDER BY f.ts DESC, f.value DESC) AS rn
           FROM l LEFT JOIN f ON f.user_id = l.entity AND f.ts <= l.ts),
     jl AS (SELECT l.entity, l.value, l.ts, f.value AS fv,
                   row_number() OVER (PARTITION BY l.entity, l.value, l.ts
                                      ORDER BY f.ts DESC, f.value DESC) AS rn
            FROM l LEFT JOIN f ON f.user_id = l.entity AND f.ts + INTERVAL 1 HOUR <= l.ts),
     jw AS (SELECT l.entity, l.value, l.ts, w.value AS fv,
                   row_number() OVER (PARTITION BY l.entity, l.value, l.ts
                                      ORDER BY w.ts DESC, w.value DESC) AS rn
            FROM l LEFT JOIN wh w ON w.user_id = l.entity AND w.ts <= l.ts)
SELECT j.entity, j.fv AS feature__click_value__v1, jw.fv AS feature__whale_value__v1,
       jl.fv AS click_lag_1h, j.value AS label, j.ts AS label_ts
FROM (SELECT * FROM j WHERE rn = 1) j
JOIN (SELECT * FROM jl WHERE rn = 1) jl
  ON j.entity = jl.entity AND j.value = jl.value AND j.ts = jl.ts
JOIN (SELECT * FROM jw WHERE rn = 1) jw
  ON j.entity = jw.entity AND j.value = jw.value AND j.ts = jw.ts
"""

class Offline:
    name = "offline"

    def __init__(self, scale: str):
        self.size = SIZES[scale]
        self.results: dict = {}

    def generate(self, rng, out_dir: str) -> dict:
        self.dir = out_dir
        return gen.offline_inputs(rng, out_dir, shape=gen.Shape(), **self.size)

    def prepare(self, ctx) -> None:
        pass

    def _path(self, t: str) -> str:
        return os.path.join(self.dir, f"{t}.parquet")

    def _read(self, spark, t: str):
        from embeddinghub_spark.sources.readers import read_file

        return read_file(spark, self._path(t))

    def _latest(self, spark):
        from embeddinghub_spark.operators.materialize import materialize

        return materialize(self._read(spark, "events"), "user_id", "value", "ts")

    def _balance(self, spark):
        from embeddinghub_spark.operators.materialize import materialize_no_ts

        return materialize_no_ts(self._read(spark, "customer"), "c_custkey", "c_acctbal",
                                 tiebreak_cols=["c_acctbal"])

    def _catalog(self, spark):
        from embeddinghub_spark.catalog import Catalog, FeatureLag

        cat = Catalog(spark)
        for t in ("events", "whale"):
            cat.register_file(t, "default", self._path(t))
        cat.sql_transformation("clicks", "v1", "SELECT user_id, value, ts FROM "
                               "{{events.default}} WHERE event_type = 'click'")
        cat.sql_transformation("purchases", "v1", "SELECT user_id, value, ts FROM "
                               "{{events.default}} WHERE event_type = 'purchase'")
        cat.register_feature("click_value", "v1", ("clicks", "v1"), "user_id", "value", "ts")
        cat.register_feature("whale_value", "v1", ("whale", "default"), "user_id", "value", "ts")
        cat.register_label("purchase", "v1", ("purchases", "v1"), "user_id", "value", "ts")
        cat.register_training_set(
            "ts_bench", "v1", ("purchase", "v1"), [("click_value", "v1"), ("whale_value", "v1")],
            lags=[FeatureLag("click_value", "v1", timedelta(hours=1), alias="click_lag_1h")])
        return cat

    # -- stages: each builds its DataFrames and collects them -----------

    def training_set(self, ctx) -> None:
        df = self._catalog(ctx.spark).training_set_dataframe("ts_bench", "v1")
        self.results["training_set"] = ctx.collect(df)

    def batch_features(self, ctx) -> None:
        from embeddinghub_spark.operators.batch import batch_features

        df = batch_features({"ev_latest": self._latest(ctx.spark),
                             "acct_balance": self._balance(ctx.spark)})
        self.results["c14_batch_features"] = ctx.collect(df)

    def train_test_split(self, ctx) -> None:
        from embeddinghub_spark.operators.split import train_test_split

        train, test = train_test_split(self._read(ctx.spark, "orders"), test_size=0.25,
                                       seed=42, key_cols=["o_orderkey"])
        self.results["train"], self.results["test"] = ctx.collect(train), ctx.collect(test)

    def stages(self) -> list:
        return [self.training_set, self.batch_features, self.train_test_split]

    def check(self, ctx, checks) -> None:
        import pandas as pd

        import __spark_entry__ as registry

        oracles = registry.oracle_sql()
        oracles["training_set"] = TRAINING_SET_ORACLE
        con = duck(self.dir, ["events", "whale", "customer", "orders"])
        r = self.results
        for name in ("training_set", "c14_batch_features"):
            checks.run(f"offline.{name}",
                       lambda n=name: same_rows(r[n], con.execute(oracles[n]).df()))
        split = pd.concat([r["train"].assign(is_test=0), r["test"].assign(is_test=1)])
        checks.run("offline.c15_train_test_split", lambda: same_rows(
            split[["o_orderkey", "is_test"]],
            con.execute(oracles["c15_train_test_split"]).df()))
        con.close()

    def details(self, rounds: list[dict]) -> dict:
        from perfbench.stats import median

        return {"offline.cycle_s": (median([sum(v for k, v in r.items() if k.startswith("offline."))
                                            for r in rounds]), "s")}

    def layer_extras(self, ctx) -> dict:
        return {}
