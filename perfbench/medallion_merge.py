"""medallion_merge: the write path of the lakehouse, beside reads.

Silver ``orders`` is a ``sources.txlog`` table. Each op applies one
seed-generated changeset (mostly updates on Zipf-skewed keys, a small
insert share, so the table size stays level):

1. ``txlog.merge`` — upsert, also writes the change feed (CDF);
2. ``txlog.read_changes`` — the commit's CDF;
3. ``operators.incremental.incremental_update`` — fold the signed CDF
   into the Gold rollup (order count and revenue by priority);
4. an SCD2 customer-dimension batch via
   ``operators.merge.apply_changeset``, committed with
   ``txlog.overwrite``;
5. a read-after-write aggregate on ``txlog.read``.

Every ``CYCLE`` ops the last op also runs ``maybe_checkpoint``,
``compact`` and ``vacuum``. A pandas replay of the same changesets is
the oracle for every op's outputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import datagen
from harness import action, cache_hygiene, warm

N_ORDERS = 20_000
N_CUSTOMERS = 2_000
CHANGE_ROWS = 200  # 1% of the table per op
INSERT_SHARE = 0.1
DIM_CHANGES = 40
CYCLE = 2
MAX_OPS = 30
GOLD_KEYS = ["o_orderpriority"]
GOLD_SPEC = {"n": ("sum", "__sign"), "revenue": ("sum", "__signed_price")}
DIM_COLS = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _cents(x) -> int:
    return int(round(float(x) * 100))


class Step:
    """One medallion op (steps 1–5, plus maintenance on cycle ends)."""

    def __init__(self, wl: "MedallionMerge", k: int, cycle_end: bool) -> None:
        self.wl = wl
        self.k = k
        self.cycle_end = cycle_end
        self.name = f"changeset_{k}"

    def run(self):
        return self.wl.apply(self.k, self.cycle_end)

    def check(self, out) -> str | None:
        return self.wl.check(self.k, out, self.cycle_end)

    def rows(self, out) -> int:
        return CHANGE_ROWS + DIM_CHANGES


class MedallionMerge:
    name = "medallion_merge"
    # three cycles, so the round median of the throughput drops one slow
    # cycle; write/space amplification are read after the second
    MIN_ROUNDS = 3

    def __init__(self, tracer, work_dir: str, seed: int) -> None:
        self.spark = None
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.failures: list[str] = []
        self.lakes: list[str] = []

    def _use_lake(self, root: str) -> None:
        self.silver = os.path.join(root, "silver_orders")
        self.gold = os.path.join(root, "gold_priority")
        self.dim = os.path.join(root, "dim_customer")

    # ----------------------------------------------------------------- set-up

    def generate(self) -> None:
        """Write the seed's Bronze tables and every changeset."""
        rng = np.random.default_rng(self.seed)
        self.inputs_dir = os.path.join(self.work_dir, "bronze")
        self.orders = datagen.make_orders(rng, N_ORDERS, N_CUSTOMERS)
        self.customers = datagen.make_customers(rng, N_CUSTOMERS)
        self.customers["change_ts"] = pd.Timestamp("2024-01-01")
        sizes = {
            "orders": datagen.write(self.orders, os.path.join(self.inputs_dir, "orders.parquet")),
            "customer": datagen.write(
                self.customers, os.path.join(self.inputs_dir, "customer.parquet")
            ),
        }
        self.changesets, self.dim_changes, self.cs_bytes = [], [], []
        next_key = N_ORDERS
        for k in range(MAX_OPS):
            n_ins = int(CHANGE_ROWS * INSERT_SHARE)
            upd_keys = datagen.zipf_keys(rng, N_ORDERS, CHANGE_ROWS - n_ins)
            cs = datagen.make_orders(rng, CHANGE_ROWS, N_CUSTOMERS, key_base=0)
            cs["o_orderkey"] = np.concatenate(
                [upd_keys, np.arange(next_key, next_key + n_ins, dtype="int64")]
            )
            next_key += n_ins
            path = os.path.join(self.inputs_dir, f"changeset_{k:03d}.parquet")
            self.cs_bytes.append(datagen.write(cs, path))
            self.changesets.append((path, cs))
            dc = datagen.make_customers(rng, N_CUSTOMERS).iloc[
                np.sort(rng.choice(N_CUSTOMERS, DIM_CHANGES, replace=False))
            ]
            dc = dc.assign(change_ts=pd.Timestamp("2024-01-02") + pd.Timedelta(days=k))
            dpath = os.path.join(self.inputs_dir, f"dim_changes_{k:03d}.parquet")
            datagen.write(dc, dpath)
            self.dim_changes.append((dpath, dc))
        sizes["changesets"] = sum(self.cs_bytes)
        self.inputs = sizes

    def setup(self, spark, rep: int) -> None:
        """Land Bronze → Silver / Gold / the customer dimension of a
        fresh lake through the engine."""
        from azuredataengineering_deeplearning_spark.operators import incremental as INC
        from azuredataengineering_deeplearning_spark.operators import merge as M
        from azuredataengineering_deeplearning_spark.sources import txlog

        self.spark = spark
        self.lakes.append(os.path.join(self.work_dir, f"lake_{rep}"))
        self._use_lake(self.lakes[-1])
        read = self.spark.read.parquet
        silver = read(os.path.join(self.inputs_dir, "orders.parquet"))
        txlog.overwrite(silver, self.silver)
        txlog.overwrite(self._gold_batch(silver, INC), self.gold)
        cust = read(os.path.join(self.inputs_dir, "customer.parquet"))
        txlog.overwrite(M.initial_load(cust, ["c_custkey"], "change_ts"), self.dim)

    def oracles(self) -> None:
        """The pandas replay advances op by op in ``check``."""

    def _reset_replay(self) -> None:
        """Pandas replay state (the oracle) of a freshly set-up lake."""
        self.expect_orders = self.orders.set_index("o_orderkey")
        self.expect_dim_rows = N_CUSTOMERS
        self.expect_current = self.customers.set_index("c_custkey")[DIM_COLS]
        self.written = 0
        self.listing = _listing(self.silver)

    def _gold_batch(self, df, INC):
        signed = df.withColumn("__sign", F.lit(1).cast("long")).withColumn(
            "__signed_price", F.col("o_totalprice")
        )
        return INC.aggregate_batch(signed, GOLD_KEYS, GOLD_SPEC)

    def prepare(self) -> None:
        """Warm every step once (maintenance included) on the previous
        set-up's lake — identical content — checking it against the
        replay, then point the timed ops at the fresh lake."""
        self._use_lake(self.lakes[-2])
        self._reset_replay()
        err = warm(Step(self, 0, cycle_end=True)) or self.hygiene()
        if err:
            self.failures.append(f"warm-up op: {err}")
        self._use_lake(self.lakes[-1])
        self._reset_replay()

    def rounds(self):
        k = 0
        while k + CYCLE <= MAX_OPS:
            yield [Step(self, k + i, cycle_end=i == CYCLE - 1) for i in range(CYCLE)]
            k += CYCLE

    # ------------------------------------------------------------------- op

    def apply(self, k: int, cycle_end: bool) -> dict:
        from azuredataengineering_deeplearning_spark.operators import incremental as INC
        from azuredataengineering_deeplearning_spark.operators import merge as M
        from azuredataengineering_deeplearning_spark.sources import txlog
        from azuredataengineering_deeplearning_spark.sources.readers import local_rows_df

        span, spark = self.tracer.span, self.spark
        cs = spark.read.parquet(self.changesets[k][0])

        with span("txlog.merge"):
            try:
                v = txlog.merge(spark, self.silver, cs, ["o_orderkey"])
            except txlog.CommitConflict:
                self.tracer.count("txlog.commit_conflicts", 1)
                raise
        with span("txlog.read_changes"):
            cdf = txlog.read_changes(spark, self.silver, v, v)
        with span("incremental.fold"):
            sign = F.when(F.col("_change_type") == "update_preimage", -1).otherwise(1)
            batch = cdf.withColumn("__sign", sign.cast("long")).withColumn(
                "__signed_price", F.col("o_totalprice") * sign
            )
            gold = INC.incremental_update(txlog.read(spark, self.gold), batch, GOLD_KEYS, GOLD_SPEC)
            gold_rows = action(self.tracer, gold.collect)
            txlog.overwrite(local_rows_df(spark, gold_rows, gold.schema), self.gold)
        with span("merge.scd2"):
            dim = M.apply_changeset(
                txlog.read(spark, self.dim),
                spark.read.parquet(self.dim_changes[k][0]),
                ["c_custkey"],
                "change_ts",
            )
            txlog.overwrite(dim, self.dim)
        with span("txlog.snapshot"):
            silver = txlog.read(spark, self.silver)
        raw = action(
            self.tracer,
            silver.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("o_totalprice")).alias("s"))
            .collect,
        )
        if cycle_end:
            with span("txlog.checkpoint"):
                txlog.maybe_checkpoint(self.silver, every=CYCLE)
            with span("txlog.compact"):
                txlog.compact(spark, self.silver, target_files=1)
            with span("txlog.vacuum"):
                txlog.vacuum(self.silver, dry_run=False, orphan_retention_s=0.0)
        return {"gold": gold_rows, "raw": raw, "cdf": cdf, "v": v}

    # ---------------------------------------------------------------- oracle

    def _account(self, k: int, v: int) -> None:
        """Bytes and files the op wrote under the Silver table (untimed)."""
        from azuredataengineering_deeplearning_spark.sources import txlog

        after = _listing(self.silver)
        new = {f: n for f, n in after.items() if f not in self.listing}
        self.listing = after
        self.written += sum(new.values())
        self.tracer.count(
            "txlog.bytes_staged", sum(n for f, n in new.items() if f.endswith(".parquet"))
        )
        for h in txlog.history(self.silver):
            if h["version"] >= v:
                self.tracer.count("txlog.files_added", h["n_added"])
                self.tracer.count("txlog.files_removed", h["n_removed"])
        if k + 1 == 2 * CYCLE:
            self.write_amp = self.written / sum(self.cs_bytes[: k + 1])
            live, _ = txlog.snapshot_files(self.silver)
            self.space_amp = sum(after.values()) / sum(after[f] for f in live)

    def check(self, k: int, out: dict, cycle_end: bool) -> str | None:
        self._account(k, out["v"])
        self.tracer.count("incremental.state_rows", len(out["gold"]))
        cs = self.changesets[k][1].set_index("o_orderkey")
        exp = self.expect_orders
        upd = cs.index.isin(exp.index)
        want_changes = {
            "update_preimage": int(upd.sum()),
            "update_postimage": int(upd.sum()),
            "insert": int((~upd).sum()),
        }
        exp = pd.concat([exp.drop(cs.index[upd]), cs])
        self.expect_orders = exp

        got_changes = {
            r["_change_type"]: r["count"]
            for r in out["cdf"].groupBy("_change_type").count().collect()
        }
        if got_changes != {t: n for t, n in want_changes.items() if n}:
            return f"CDF {got_changes} != {want_changes}"
        cents = (exp["o_totalprice"] * 100).round().astype("int64")
        want_gold = {
            p: (int(len(g)), int(cents[g.index].sum()))
            for p, g in exp.groupby("o_orderpriority")
        }
        got_gold = {r["o_orderpriority"]: (int(r["n"]), _cents(r["revenue"])) for r in out["gold"]}
        if got_gold != want_gold:
            return "gold rollup differs from replay"
        want_raw = {
            s: (int(len(g)), int(cents[g.index].sum()))
            for s, g in exp.groupby("o_orderstatus")
        }
        got_raw = {r["o_orderstatus"]: (int(r["n"]), _cents(r["s"])) for r in out["raw"]}
        if got_raw != want_raw:
            return "read-after-write aggregate differs from replay"

        dc = self.dim_changes[k][1].set_index("c_custkey")[DIM_COLS]
        cur = self.expect_current
        changed = (cur.loc[dc.index] != dc).any(axis=1)
        self.expect_dim_rows += int(changed.sum())
        cur.loc[dc.index] = dc
        return self.verify_dim() if cycle_end else None

    def verify_dim(self) -> str | None:
        """Full check of the SCD2 dimension against the replay (run once
        per cycle, untimed)."""
        from azuredataengineering_deeplearning_spark.sources import txlog

        dim = txlog.read(self.spark, self.dim)
        n = dim.count()
        if n != self.expect_dim_rows:
            return f"dimension has {n} rows, replay {self.expect_dim_rows}"
        cur = (
            dim.filter(F.col("currentVersion") == 1)
            .select("c_custkey", *DIM_COLS)
            .toPandas()
            .set_index("c_custkey")
            .sort_index()
        )
        want = self.expect_current.sort_index()
        if not cur.index.equals(want.index) or not (cur == want).all(axis=None):
            return "dimension current rows differ from replay"
        return None

    def hygiene(self) -> str | None:
        problems = [p for p in [cache_hygiene(self.spark)] if p]
        for table in (self.silver, self.gold, self.dim):
            if any(f.startswith("_stage_") for f in os.listdir(table)):
                problems.append(f"_stage_ directory left in {os.path.basename(table)}")
        return "; ".join(problems) or None

    def layer_extras(self) -> dict[str, float]:
        return {"txlog.write_amp": self.write_amp, "txlog.space_amp": self.space_amp}


def _listing(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out
