"""SyncEngine — the incremental NFT-activity sync as Spark plans.

Re-expresses the reference daemon end-to-end (/root/reference/app/
main.py:26-388 + app/db/postgres.py:251-402), replacing every piece of
driver-side state with a distributed equivalent:

| reference mechanism                         | here                                   |
|---------------------------------------------|----------------------------------------|
| IdIndex dicts (natkey→id)                   | broadcast left-anti joins on the dims  |
| next-id counters (A5 max-id probe)          | max(id)+1 seed + literal bucket offsets|
| ordered row loop, later-rows-overwrite (D3) | per-key argmax (max_by) over `seq`     |
| per-period SQL + fetchall                   | one pushed-down extraction per catch-up batch, no collect |
| insert lists + per-table bulk INSERT        | append-only fact partitions, versioned dims |
| tip/period loop (G1/G2)                     | data-derived tips; batches of ≤ CATCHUP_PERIODS periods, one commit per period |

Row order: the reference relies on `ORDER BY b3.time asc` and
result-set order within equal times (Postgres-plan-dependent). We fix a
deterministic total order `seq` = (tx_time, tx_id, ma_id, leg, sub_id)
assigned with the per-bucket-offset technique — no single-partition
global window (SURVEY.md §4 item 1).

Catch-up: with k pending periods, ``run_sync`` extracts and numbers up
to ``CATCHUP_PERIODS`` of them ONCE (one extraction over
``(lo_1, hi_k]``, every row tagged with its ``period`` index), then
commits them one period and one commit id at a time, each a slice of
the batch's frozen frames — the reference's per-period commits, with
the extraction and numbering cost paid once per batch.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..functions.cardano import staking_address_udf
from ..functions.hexstr import hex_to_string, lower_hex
from ..operators.ckpt import Scope, freeze
from ..operators.surrogate import with_dense_ids, with_dense_ids_grouped
from .fixtures import GENESIS
from .store import MANIFEST, TableStore

SEQ_ORDER = ["tx_time", "tx_id", "ma_id", "leg_order", "sub_id"]

from .schemas import FACT_TABLES  # noqa: E402  (single source of truth)

DIM_TABLES = ("wallet", "collection", "asset", "asset_ext")

#: Most pending periods one catch-up batch extracts and numbers at once
#: (see SyncEngine.process_period); each still commits on its own.
CATCHUP_PERIODS = 8


@pandas_udf(StringType())
def pg_escape_udf(names):  # binary series → Postgres encode(...,'escape') text
    import pandas as pd

    from .fixtures import pg_escape

    return pd.Series([pg_escape(bytes(b)) if b is not None else None for b in names])


def _attach_ids(
    frame: DataFrame,
    key: str,
    id_col: str,
    dim_ids: DataFrame | None,
    new_ids: DataFrame,
    inner: bool = False,
) -> DataFrame:
    """``frame`` plus ``id_col``: the surrogate id of its ``key`` in the
    dimension (``dim_ids``: (key, id_col) rows, None before the first
    commit) or among this period's new rows (``new_ids``, same shape;
    its keys are disjoint from the dimension's by the anti-join that
    minted them). NULL when neither holds the key, or, with ``inner``,
    the row is dropped — an inner join against ``dim ∪ new``.

    Two joins rather than one against the union: the dimension is a
    parquet scan the planner sizes (broadcast while small, shuffled
    beyond), but the new rows are checkpoint blocks whose size estimate
    is inherited from the plan that built them — astronomically large
    after the extraction's joins — so a join against the union never
    plans a static broadcast, and AQE shuffles both sides before
    switching to one. The per-period side is broadcast outright."""
    out = frame.join(
        F.broadcast(new_ids.withColumnRenamed(id_col, "__new_id")), key, "left"
    )
    if dim_ids is None:
        out = out.withColumnRenamed("__new_id", id_col)
    else:
        out = (
            out.join(dim_ids.withColumnRenamed(id_col, "__dim_id"), key, "left")
            .withColumn(id_col, F.coalesce("__new_id", "__dim_id"))
            .drop("__new_id", "__dim_id")
        )
    return out.where(F.col(id_col).isNotNull()) if inner else out


@dataclass
class _Batch:
    """Consecutive periods extracted and numbered once: the frames each
    period's commit slices by ``period``, the per-period stats, and the
    scope that owns the checkpoints the frames read."""

    periods: list[tuple[datetime, datetime]]
    frames: dict[str, DataFrame] = field(default_factory=dict)
    stats: list[dict[str, int]] = field(default_factory=list)
    scope: Scope = field(default_factory=Scope)
    committed: int = 0


class SyncEngine:
    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        store: TableStore,
        time_interval_minutes: int = 120,
        tip_buffer_blocks: int = 3,
        genesis: datetime = GENESIS,
        retention_keep_last: int | None = None,
        compact_every: int | None = None,
        cluster_facts_by: str | list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.source_dir = source_dir
        self.store = store
        self.interval = timedelta(minutes=time_interval_minutes)
        self.tip_buffer = tip_buffer_blocks
        self.genesis = genesis
        # opt-in storage retention: vacuum superseded dim versions after
        # each period (a long-running sync otherwise keeps one version
        # per table per period forever); snapshots stay protected
        self.retention_keep_last = retention_keep_last
        # opt-in small-files hygiene: merge fact append dirs every N
        # periods (store.compact_facts — crash-journaled, preserves
        # read_facts/read_at row sets and snapshot watermarks exactly)
        self.compact_every = compact_every
        # opt-in sort-on-write layout for fact appends AND compaction
        # merges (store.append/compact_facts cluster_by): files become
        # disjoint ranges of this column — or, with a LIST of columns,
        # Z-ordered rectangles (operators/zorder.py) — so range readers
        # prune at file/row-group level on top of the commit manifests.
        # Off by default — it adds a range shuffle of each period's new
        # rows to the sync hot path; turn it on when read patterns are
        # time-ranged (the analytics default at 100 TB).
        self.cluster_facts_by = cluster_facts_by
        # per-run carry-forward (see process_period): None = must probe
        self._seeds: dict[str, int] | None = None
        self._src_schemas: dict = {}
        # the periods run_sync will commit next, in order (a catch-up
        # batch covers the next CATCHUP_PERIODS of them), and the open batch
        self._pending: list[tuple[datetime, datetime]] = []
        self._batch: _Batch | None = None

    # --- sources -------------------------------------------------------------

    def src(self, name: str) -> DataFrame:
        """Source table ``name``. Its schema is inferred once per engine
        and passed on every later read: parquet schema inference runs a
        Spark job per read, and each period's extraction reads nine."""
        path = os.path.join(self.source_dir, f"{name}.parquet")
        schema = self._src_schemas.get(name)
        if schema is None:
            df = self.spark.read.parquet(path)
            self._src_schemas[name] = df.schema
            return df
        return self.spark.read.schema(schema).parquet(path)

    # --- tips & periods (G1/G2) ----------------------------------------------

    def cardano_tip(self) -> datetime | None:
        """Source tip with the reference's 3-block safety buffer
        (`ORDER BY time DESC LIMIT 1 OFFSET 3`, app/db/postgres.py:262-278)."""
        rows = (
            self.src("block")
            .orderBy(F.col("time").desc())
            .limit(self.tip_buffer + 1)
            .collect()
        )
        if len(rows) <= self.tip_buffer:
            return None
        return rows[self.tip_buffer]["time"]

    def pantasia_tip(self) -> datetime:
        """Sink tip = max fact tx_time, else genesis (app/db/postgres.py:280-312).
        Derived from committed data, so a crash between fact commits and
        checkpointing replays the period instead of skipping it.

        Reads per-commit manifests (parquet footer stats folded at
        commit time, pipeline/store.py), NOT the fact parquet: the
        reference's tip is an O(1) Postgres index probe; ours is an
        O(#commits) metadata fold that launches no Spark job and scans
        zero fact rows — the same property (tip comes only from
        committed data) because the manifest is written inside the
        commit dir before the pointer flip."""
        tips = [
            tip
            for t in FACT_TABLES
            if (tip := self._facts_max_or_scan(t, "tx_time")) is not None
        ]
        return max(tips) if tips else self.genesis

    def _facts_max_or_scan(self, table: str, column: str):
        """max(column) over committed facts: manifest fold when the
        footers recorded stats for the column, DATA SCAN fallback when
        committed rows exist but carry none (e.g. INT96 timestamps —
        Spark's legacy parquet timestamp layout writes NO footer
        statistics). Without the fallback, a stats-less history would
        read as empty: pantasia_tip would restart from genesis and
        re-append the whole fact history under new commit ids."""
        m = self.store.facts_stats(table)
        if m is None or m["rows"] == 0:
            return None
        s = m["stats"].get(column)
        if s is not None:
            return s["max"]
        df = self.store.read_facts(self.spark, table)
        return df.agg(F.max(column)).collect()[0][0]

    def period_list(self) -> list[tuple[datetime, datetime]]:
        lo = self.pantasia_tip()
        hi = self.cardano_tip()
        periods = []
        if hi is None:
            return periods
        cur = lo
        while cur < hi:
            nxt = min(cur + self.interval, hi)
            periods.append((cur, nxt))
            cur = nxt
        return periods

    # --- extraction (the flagship query, A2/B/C ops) --------------------------

    def extract(
        self, lo: datetime, hi: datetime, splits: Sequence[datetime] = ()
    ) -> DataFrame:
        """Spark form of ``pantasia_get_records`` (app/db/postgres.py:327-402):
        burn leg ∪ output leg, broadcast dimension joins, decorrelated
        lateral CIP-25 metadata with dynamic JSON path keys.

        ``splits`` are the inner bounds of consecutive periods covering
        ``(lo, hi]``; each row's ``period`` is the index of the period
        holding its ``tx_time`` (the number of splits before it)."""
        block = self.src("block").where((F.col("time") > F.lit(lo)) & (F.col("time") <= F.lit(hi)))
        tx = self.src("tx").select(
            F.col("id").alias("tx_id"), lower_hex("hash").alias("tx_hash"), "block_id"
        )
        tx_in_range = tx.join(
            block.select(F.col("id").alias("block_id"), F.col("time").alias("tx_time")),
            "block_id",
        ).drop("block_id")

        ma = self.src("multi_asset").select(
            F.col("id").alias("ma_id"),
            lower_hex("policy").alias("policy_id"),
            pg_escape_udf("name").alias("asset_name"),
            lower_hex("name").alias("asset_name_hash"),
            F.col("fingerprint").alias("asset_fingerprint"),
        )
        stake = self.src("stake_address").select(
            F.col("id").alias("stake_address_id"), F.col("view").alias("stake_address")
        )

        burn_leg = (
            self.src("ma_tx_mint")
            .where(F.col("quantity") < 0)
            .join(tx_in_range, "tx_id")
            .join(F.broadcast(ma), F.col("ident") == ma.ma_id)
            .select(
                "ma_id",
                "policy_id",
                "asset_name",
                "asset_name_hash",
                "asset_fingerprint",
                "quantity",
                "tx_id",
                F.lit(None).cast("string").alias("address"),
                F.lit(None).cast("string").alias("stake_address"),
                "tx_hash",
                "tx_time",
                F.lit(0).alias("leg_order"),
                F.lit(-1).cast("long").alias("sub_id"),
            )
        )

        tx_out = self.src("tx_out").select(
            F.col("id").alias("tx_out_id"), "tx_id", "address", "stake_address_id"
        )
        mto = self.src("ma_tx_out").withColumnRenamed("tx_out_id", "mto_out_id")
        out_leg = (
            mto.join(tx_out, mto.mto_out_id == tx_out.tx_out_id)
            .join(tx_in_range, "tx_id")
            .join(F.broadcast(ma), F.col("ident") == ma.ma_id)
            .join(F.broadcast(stake), "stake_address_id", "left")
            .select(
                "ma_id",
                "policy_id",
                "asset_name",
                "asset_name_hash",
                "asset_fingerprint",
                "quantity",
                "tx_id",
                "address",
                "stake_address",
                "tx_hash",
                "tx_time",
                F.lit(1).alias("leg_order"),
                F.col("tx_out_id").alias("sub_id"),
            )
        )

        all_ma_tx = burn_leg.unionByName(out_leg)

        # Decorrelated lateral (C8): mint-membership flag + label-721 JSON.
        meta = (
            self.src("ma_tx_mint")
            .select(F.col("ident").alias("ma_id"), "tx_id")
            .distinct()
            .join(
                self.src("tx_metadata").where(F.col("key") == 721).select("tx_id", "json"),
                "tx_id",
                "left",
            )
            .withColumn("is_mint_tx", F.lit(True))
        )
        # no broadcast hint: ma_tx_mint grows with history; AQE picks the
        # strategy from runtime sizes (the period filter usually shrinks it)
        joined = all_ma_tx.join(meta, ["ma_id", "tx_id"], "left")

        # Dynamic JSON path (B8/§4-item-4): two-level map parse; the inner
        # object is re-stringified by from_json, then literal-path extraction.
        parsed = F.from_json(F.col("json"), "map<string,map<string,string>>")
        inner = parsed[F.col("policy_id")][F.col("asset_name")]
        period = F.lit(0)
        for t in splits:
            period = period + F.when(F.col("tx_time") > F.lit(t), 1).otherwise(0)
        return joined.select(
            "ma_id",
            "tx_id",
            "policy_id",
            "asset_name",
            "asset_name_hash",
            "asset_fingerprint",
            "quantity",
            "address",
            "stake_address",
            "tx_hash",
            "tx_time",
            "leg_order",
            "sub_id",
            F.coalesce(F.col("is_mint_tx"), F.lit(False)).alias("is_mint_tx"),
            F.get_json_object(inner, "$.image").alias("image"),
            inner.alias("metadata"),
            F.get_json_object(inner, "$.files").alias("files"),
            period.alias("period"),
        )

    # --- per-period transform + commit ----------------------------------------

    def _seed(self, table: str) -> int:
        """Next surrogate id (A5, app/db/postgres.py:251-260) from
        commit/version manifests — no fact-history scan, no Spark job
        (see pantasia_tip). Stats-less footers fall back to a data scan
        (never to 1 — that would re-issue existing ids; see
        _facts_max_or_scan)."""
        if table in FACT_TABLES:
            m = self._facts_max_or_scan(table, "id")
        else:
            m = self.store.dim_max(table, "id")
            if m is None:
                df = self.store.read(self.spark, table)
                if df is not None:
                    m = df.agg(F.max("id")).collect()[0][0]
        return (m or 0) + 1

    def process_period(self, lo: datetime, hi: datetime, commit_id: int) -> dict[str, int]:
        """Commit period ``(lo, hi]`` as ``commit_id``; returns its stats.

        The period is one slice of a *catch-up batch*: consecutive
        periods extracted and numbered once (``_build_batch``), then
        committed one period per call, in order. When ``(lo, hi]`` is
        not the next period of the open batch, a new batch is built
        from it and the periods ``run_sync`` has pending after it, at
        most ``CATCHUP_PERIODS`` in all; a direct call outside
        ``run_sync`` is a batch of one. The batch's frozen frames are
        released after its last period commits, or as soon as its build
        or a commit fails (the next call rebuilds from the store)."""
        b = self._batch
        try:
            if b is None or b.periods[b.committed] != (lo, hi):
                self._release_batch()
                ahead = self._pending
                i = ahead.index((lo, hi)) if (lo, hi) in ahead else len(ahead)
                b = self._batch = _Batch(ahead[i : i + CATCHUP_PERIODS] or [(lo, hi)])
                with b.scope.active():
                    self._build_batch(b)
            stats = self._commit_period(b, commit_id)
        except BaseException:
            self._release_batch()
            raise
        if b.committed == len(b.periods):
            self._release_batch()
        return stats

    def _release_batch(self) -> None:
        """Free the open batch's checkpoint blocks, if a batch is open."""
        if self._batch is not None:
            self._batch.scope.close()
            self._batch = None

    def _build_batch(self, b: _Batch) -> None:
        """Extract and number the batch's consecutive periods ONCE,
        filling its frames and per-period stats.

        Every frame carries ``period``, the index of the period its row
        belongs to (a dimension row: the period it is first seen in).
        Numbering the whole batch in first-seen order
        gives each period exactly the ids a period-by-period run gives
        it: ``seq`` is time-ordered and the periods are consecutive, so
        period i's new rows all sort after period i-1's, and the seeds
        of period i are the batch's seeds plus the rows periods < i
        numbered. The numberings split their buckets by ``period``, so
        their counts are the per-period stats with no count job."""
        spark = self.spark
        k = len(b.periods)
        lo, hi = b.periods[0][0], b.periods[-1][1]
        split = ("period", k)
        records = self.extract(lo, hi, splits=[h for _, h in b.periods[:-1]])
        # Stake derivation (the one irreducible Python UDF, H1) is folded
        # in BEFORE the freeze so bech32 runs exactly once per row — the
        # wallet aggregation and the per-row key probe both reuse it.
        records = records.withColumn(
            "stake_derived", staking_address_udf("address")
        ).withColumn("wallet_key", F.coalesce("stake_derived", "address"))
        # Every surrogate id of the batch is numbered ONCE against
        # driver-side offsets (operators/surrogate.py): each numbering
        # freezes its input to checkpoint blocks, its per-bucket counts
        # ride that freeze, and the ids are a projection over the blocks
        # — so each period's writes are scans + projections + the
        # per-period joins, never a re-run of an upstream numbering.
        #
        # `seq` buckets come from the batch's own time window (tx_time
        # is in (lo, hi] by the extraction predicate), so there is no
        # range-sampling pass: the extraction — both pandas UDFs
        # (bech32 + pg_escape) and the CIP-25 JSON parse — runs once,
        # in the map side of the numbering's one shuffle, and is frozen
        # with the ranks. `seq` is then dense in [1, n], which gives
        # every later numbering ordered by seq / first_seq exact bucket
        # bounds too. `n` collects the rows each numbering minted, per
        # period.
        n: dict[str, list[int]] = {t: [] for t in ("records", *DIM_TABLES[:3])}
        records = with_dense_ids(
            records, SEQ_ORDER, id_col="seq", first_col_range=(lo, hi),
            totals=n["records"], split=split,
        )
        seq_range = (1, sum(n["records"]))

        # the dimensions as committed before the batch: what its
        # anti-joins mint new rows against
        wallet_dim = self.store.read(spark, "wallet")
        collection_dim = self.store.read(spark, "collection")
        asset_dim = self.store.read(spark, "asset")

        # Seed probes (A5): one max-id scan per table on the FIRST
        # batch of a run only. Ids are dense, so later periods carry
        # seeds forward arithmetically from the numbering totals, and a
        # restart re-probes from committed data (crash-safe, G7).
        if self._seeds is None:
            self._seeds = {t: self._seed(t) for t in (*DIM_TABLES[:3], *FACT_TABLES)}
        seeds = self._seeds

        # ---- wallets (D2/D4: dedup on natural key, first-seen id order) ----
        addr_rows = records.where(F.col("address").isNotNull()).withColumn(
            "address_type",
            F.when(F.col("stake_derived").isNull(), "ENTERPRISE").otherwise("STAKE"),
        )
        # `period` never decreases along `seq`: the first-seen period
        # is the smallest one
        wallet_firsts = addr_rows.groupBy("wallet_key", "address_type").agg(
            F.min("seq").alias("first_seq"), F.min("period").alias("period")
        )
        if wallet_dim is not None:
            wallet_firsts = wallet_firsts.join(
                wallet_dim.select(F.col("address").alias("wallet_key")),
                "wallet_key",
                "left_anti",
            )
        new_wallets = with_dense_ids(
            wallet_firsts, ["first_seq"], id_col="id", start=seeds["wallet"],
            first_col_range=seq_range, totals=n["wallet"], split=split,
        ).select(
            "id",
            F.col("wallet_key").alias("address"),
            "address_type",
            # app-owned column (reference DDL wallet.user_id): the sync
            # loop never assigns users, it only declares the slot
            F.lit(None).cast("int").alias("user_id"),
            "period",
        )

        # ---- collections ----
        coll_firsts = records.groupBy("policy_id").agg(
            F.min("seq").alias("first_seq"), F.min("period").alias("period")
        )
        if collection_dim is not None:
            coll_firsts = coll_firsts.join(
                collection_dim.select("policy_id"), "policy_id", "left_anti"
            )
        new_collections = with_dense_ids(
            coll_firsts, ["first_seq"], id_col="id", start=seeds["collection"],
            first_col_range=seq_range, totals=n["collection"], split=split,
        ).select(
            "id",
            "policy_id",
            # app-owned column (reference DDL collection.name)
            F.lit(None).cast("string").alias("name"),
            "period",
        )

        # wallet id per row (burns carry no address: their NULL
        # wallet_key matches nothing → NULL wallet id)
        rows_w = _attach_ids(
            records,
            "wallet_key",
            "row_wallet_id",
            None if wallet_dim is None else wallet_dim.select(
                F.col("address").alias("wallet_key"), F.col("id").alias("row_wallet_id")
            ),
            new_wallets.select(
                F.col("address").alias("wallet_key"), F.col("id").alias("row_wallet_id")
            ),
        )

        # ---- assets (natural key = fingerprint; insert carries first-row state) ----
        w_first = Window.partitionBy("asset_fingerprint").orderBy("seq")
        firsts = (
            rows_w.withColumn("rn", F.row_number().over(w_first))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        if asset_dim is not None:
            firsts = firsts.join(
                asset_dim.select(F.col("fingerprint").alias("asset_fingerprint")),
                "asset_fingerprint",
                "left_anti",
            )
        # the collection id is joined in BEFORE the numbering freezes the
        # frame, so the asset write and the fact numbering both read it
        # from the blocks instead of re-running the join
        new_asset_firsts = _attach_ids(
            firsts,
            "policy_id",
            "collection_id",
            None if collection_dim is None else collection_dim.select(
                "policy_id", F.col("id").alias("collection_id")
            ),
            new_collections.select("policy_id", F.col("id").alias("collection_id")),
            inner=True,
        )
        new_assets = with_dense_ids(
            new_asset_firsts, ["seq"], id_col="id", start=seeds["asset"],
            first_col_range=seq_range, totals=n["asset"], split=split,
        ).select(
            "id",
            "collection_id",
            F.concat_ws(".", "policy_id", "asset_name_hash").alias("hash"),
            hex_to_string("asset_name_hash").alias("name"),
            F.col("asset_fingerprint").alias("fingerprint"),
            F.col("row_wallet_id").alias("current_wallet_id"),
            "period",
        )

        # NOT cached (measured): persisting this wide frame costs more
        # than the downstream recomputation it saves — caching it
        # regressed the 10×-scale sync 188s → 293s (the cache fill
        # materializes JSON-heavy columns and blocks AQE broadcast
        # reuse). The fact numbering below freezes it once anyway.
        rows_wa = _attach_ids(
            rows_w,
            "asset_fingerprint",
            "asset_id",
            None if asset_dim is None else asset_dim.select(
                F.col("fingerprint").alias("asset_fingerprint"), F.col("id").alias("asset_id")
            ),
            new_assets.select(
                F.col("fingerprint").alias("asset_fingerprint"), F.col("id").alias("asset_id")
            ),
            inner=True,
        )

        # ---- facts: ids in seq order per type (mint vs transfer counters) ----
        # ONE grouped numbering instead of two with_dense_ids calls over
        # the mint/transfer halves: same ids (property-pinned in
        # test_properties), but the wide rows_wa frame hits checkpoint
        # blocks once instead of twice — measured ~1s off the scale-1
        # sync wall (two fewer jobs + one fewer shuffle of JSON-heavy
        # columns).
        n_facts: dict = {}
        facts = with_dense_ids_grouped(
            rows_wa,
            ["seq"],
            "is_mint_tx",
            starts={True: seeds["asset_mint_tx"], False: seeds["asset_tx"]},
            id_col="id",
            first_col_range=seq_range,
            totals=n_facts,
            split=split,
        )

        # ---- latest-state (D3): current wallet + asset_ext ----
        # ONE aggregate over the frozen facts, frozen itself: per asset
        # and period that touches it, the wallet and id of its last
        # transfer and the id of its last positive mint (max_by over
        # seq; rows of the other kind order by NULL, which max_by skips)
        tx_seq = F.when(~F.col("is_mint_tx"), F.col("seq"))
        mint_seq = F.when(F.col("is_mint_tx") & (F.col("quantity") > 0), F.col("seq"))
        latest = freeze(
            facts.groupBy("asset_id", "period")
            .agg(
                F.max_by("row_wallet_id", tx_seq).alias("last_tx_wallet"),
                F.max_by("id", tx_seq).alias("last_tx_id"),
                F.max_by("id", mint_seq).alias("last_mint_id"),
            )
        )

        b.stats = [
            {
                "records": n["records"][i],
                "new_wallets": n["wallet"][i],
                "new_collections": n["collection"][i],
                "new_assets": n["asset"][i],
                "asset_tx": n_facts[False][i],
                "asset_mint_tx": n_facts[True][i],
            }
            for i in range(k)
        ]
        b.frames = {
            "wallet": new_wallets,
            "collection": new_collections,
            "asset": new_assets,
            "facts": facts,
            "latest": latest,
        }

    def _commit_period(self, b: _Batch, commit_id: int) -> dict[str, int]:
        """Write the batch's next period: each dimension is its CURRENT
        store version (never a read taken when the batch was built —
        retention may have deleted that version since) plus the
        period's new rows, the facts are the period's slice."""
        spark = self.spark
        i = b.committed
        in_period = {
            name: df.where(F.col("period") == i).drop("period")
            for name, df in b.frames.items()
        }

        def with_new(table: str) -> DataFrame:
            dim = self.store.read(spark, table)
            new = in_period[table]
            return new if dim is None else dim.unionByName(new)

        wallet_next = with_new("wallet")
        collection_next = with_new("collection")
        latest = in_period["latest"]
        # at most one row per asset touched this period: broadcast it
        # rather than shuffle the whole asset dim to it
        asset_next = (
            with_new("asset")
            .join(
                F.broadcast(latest.select(F.col("asset_id").alias("id"), "last_tx_wallet")),
                "id",
                "left",
            )
            .withColumn(
                "current_wallet_id", F.coalesce("last_tx_wallet", "current_wallet_id")
            )
            .drop("last_tx_wallet")
        )

        ext_dim = self.store.read(spark, "asset_ext")
        ext_updates = latest.where(
            F.col("last_tx_id").isNotNull() | F.col("last_mint_id").isNotNull()
        ).select("asset_id", "last_tx_id", "last_mint_id")
        if ext_dim is not None:
            ext_next = (
                ext_dim.join(ext_updates, "asset_id", "full")
                .select(
                    F.coalesce("id", "asset_id").alias("id"),
                    "asset_id",
                    F.coalesce("last_mint_id", "latest_mint_tx_id").alias("latest_mint_tx_id"),
                    F.coalesce("last_tx_id", "latest_tx_id").alias("latest_tx_id"),
                )
            )
        else:
            ext_next = ext_updates.select(
                F.col("asset_id").alias("id"),
                "asset_id",
                F.col("last_mint_id").alias("latest_mint_tx_id"),
                F.col("last_tx_id").alias("latest_tx_id"),
            )

        facts = in_period["facts"]
        asset_mint_tx_new = facts.where(F.col("is_mint_tx")).select(
            "id",
            "asset_id",
            F.col("row_wallet_id").alias("wallet_id"),
            "quantity",
            "tx_hash",
            "tx_time",
            "image",
            "metadata",
            "files",
        )
        asset_tx_new = facts.where(~F.col("is_mint_tx")).select(
            "id",
            "asset_id",
            F.col("row_wallet_id").alias("wallet_id"),
            "quantity",
            "tx_hash",
            "tx_time",
        )

        # ---- commit: stage dims, append facts, flip dims before facts ----
        # The six write actions (4 dim stages + 2 fact appends) are
        # mutually independent once the numberings are frozen, so they
        # are SUBMITTED CONCURRENTLY: the Spark scheduler interleaves
        # their stages across free slots instead of paying six
        # sequential job tails (driver-side scheduling + output commit
        # latency). Same on a cluster — concurrent actions from one
        # driver are the standard way to overlap independent writes.
        # Crash semantics unchanged: every pointer flip still happens
        # after ALL writes land (stage-then-flip), and a failure in any
        # future aborts the period before any repoint.
        from concurrent.futures import ThreadPoolExecutor

        writes = {
            "wallet": lambda: self.store.stage("wallet", wallet_next),
            "collection": lambda: self.store.stage("collection", collection_next),
            "asset": lambda: self.store.stage("asset", asset_next),
            "asset_ext": lambda: self.store.stage("asset_ext", ext_next),
            "asset_tx": lambda: self.store.append(
                "asset_tx", asset_tx_new, commit_id, cluster_by=self.cluster_facts_by
            ),
            "asset_mint_tx": lambda: self.store.append(
                "asset_mint_tx",
                asset_mint_tx_new,
                commit_id,
                cluster_by=self.cluster_facts_by,
            ),
        }
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            futures = {t: pool.submit(fn) for t, fn in writes.items()}
            staged = {
                t: futures[t].result() for t in DIM_TABLES
            }  # .result() re-raises: abort before any pointer moves
            for t in FACT_TABLES:
                futures[t].result()
        for table, version in staged.items():
            self.store.repoint(table, version)
        self.store.commit_append("asset_tx", commit_id)
        self.store.commit_append("asset_mint_tx", commit_id)

        stats = b.stats[i]
        b.committed += 1
        # dense ids ⇒ next seed = this seed + rows numbered; keeps the
        # next batch probe-free (validated against a fresh probe by
        # tests/test_pipeline_e2e.py seed-carry test)
        seeds = self._seeds
        self._seeds = {
            "wallet": seeds["wallet"] + stats["new_wallets"],
            "collection": seeds["collection"] + stats["new_collections"],
            "asset": seeds["asset"] + stats["new_assets"],
            "asset_tx": seeds["asset_tx"] + stats["asset_tx"],
            "asset_mint_tx": seeds["asset_mint_tx"] + stats["asset_mint_tx"],
        }
        return stats

    # --- driver loop (one pass; poll/backoff belongs to the caller) -----------

    def ensure_bootstrap(self) -> None:
        """DDL-bootstrap parity (A9): the reference creates all seven
        target tables up front (app/db/postgres.py:94-156), including
        the app-owned ``user`` table the sync loop never writes. Create
        it empty with the declared schema so the store's table surface
        matches the reference's DDL."""
        from .schemas import TARGET_SCHEMAS

        if self.store.current_version("user") is None:
            empty = self.spark.createDataFrame([], TARGET_SCHEMAS["user"])
            self.store.repoint("user", self.store.stage("user", empty))

    def _recover_fact_commits(self) -> None:
        """Roll FORWARD an interrupted multi-table fact commit (G7).

        ``process_period`` flips the fact pointers sequentially, after
        every commit dir (data + manifest) has landed. A crash BETWEEN
        the two ``commit_append`` calls leaves table A at commit N and
        table B at N-1 with B's ``commit=N`` dir fully written but
        invisible — and that invisibility is dangerous, not just stale:
        ``pantasia_tip`` is max() across fact tables, so period N is
        never replayed for B, and ``_seed`` (max COMMITTED id) would
        hand the next period ids that collide with the orphan dir's
        rows the moment a later flip makes it visible (``<= ptr``
        pruning). Because the manifest is written INSIDE the commit dir
        before any pointer moves, a present manifest IS the commit
        record — so this is write-ahead-log roll-forward: repoint each
        lagging fact table across every complete-but-unflipped dir up
        to the fleet-max commit id. A dir missing its manifest means
        the crash hit before any flip; the whole period replays from
        the tip and the replay's append overwrites the partial dir, so
        recovery must (and does) leave it alone. Reference analogue:
        the single Postgres transaction wrapping all nine table writes
        (/root/reference/app/main.py:379) — one commit point, never a
        window between tables."""
        ptrs = {t: self.store.current_version(t) or 0 for t in FACT_TABLES}
        target = max(ptrs.values())
        for t, ptr in ptrs.items():
            nxt = ptr
            while nxt < target:
                d = self.store.append_dir(t, nxt + 1)
                if not os.path.exists(os.path.join(d, MANIFEST)):
                    break
                nxt += 1
            if nxt != ptr:
                self.store.repoint(t, nxt)

    def run_sync(
        self,
        max_periods: int | None = None,
        shutdown: "GracefulShutdown | None" = None,
    ) -> list[dict[str, int]]:
        """One sync pass: every pending period (at most ``max_periods``)
        committed in order, one ``process_period`` call and one commit
        id each. Catch-up runs in batches: the first call of each run of
        up to ``CATCHUP_PERIODS`` periods extracts and numbers them all,
        the later calls only write their slices. With a ``shutdown``
        handle (G6), a SIGINT/SIGTERM between periods stops the loop
        after the in-flight period's transactional commit — the store
        stays consistent and the next run_sync resumes from the
        data-derived tip. However the loop ends, the open batch's
        frozen frames are released."""
        self.ensure_bootstrap()
        self._recover_fact_commits()
        # fresh probe per run: carried seeds are an in-run optimization
        # only, never trusted across restarts (G7 crash recovery)
        self._seeds = None
        out = []
        periods = self.period_list()
        if max_periods is not None:
            periods = periods[:max_periods]
        base_commit = self.store.current_version("asset_tx") or 0
        self._pending = periods
        try:
            for commit_id, (lo, hi) in enumerate(periods, start=base_commit + 1):
                if shutdown is not None and shutdown.stop_requested:
                    break
                out.append(self.process_period(lo, hi, commit_id=commit_id))
                if self.retention_keep_last is not None:
                    self.store.vacuum(keep_last=self.retention_keep_last)
                # keyed on the commit id, not the position in this call: a
                # daemon whose polls each commit fewer than compact_every
                # periods still compacts once every compact_every commits
                if self.compact_every is not None and commit_id % self.compact_every == 0:
                    for t in FACT_TABLES:
                        self.store.compact_facts(
                            self.spark, t, cluster_by=self.cluster_facts_by
                        )
        finally:
            self._pending = []
            self._release_batch()
        return out

    def run_daemon(
        self,
        shutdown: "GracefulShutdown",
        poll_seconds: float = 10.0,
        max_polls: int | None = None,
        on_idle=None,
    ) -> list[dict[str, int]]:
        """The reference's daemon loop (/root/reference/app/main.py:43-57):
        poll the source tip forever; when it advances, extend the period
        list and sync the new periods; when it has not, back off
        ``poll_seconds`` (the reference's "Pause 10 seconds so that
        Postgres doesn't get spammed") and poll again. ``shutdown`` is
        the reference's GracefulKiller: a SIGINT/SIGTERM arriving
        mid-period lets the in-flight period's transactional commit
        finish, then exits the loop — the next ``run_daemon`` resumes
        from the data-derived tips (G1/G6/G7 chained).

        ``on_idle`` (optional) fires once per no-new-tip poll — a
        metrics/backoff hook; ``max_polls`` bounds the loop for tests
        (the production daemon runs unbounded)."""
        import time as _t

        stats: list[dict[str, int]] = []
        old_tip = None
        polls = 0
        while not shutdown.stop_requested:
            if max_polls is not None and polls >= max_polls:
                break
            polls += 1
            tip = self.cardano_tip()
            if tip is not None and tip != old_tip:
                stats.extend(self.run_sync(shutdown=shutdown))
                old_tip = tip
            else:
                if on_idle is not None:
                    on_idle()
                if shutdown.stop_requested:
                    break
                _t.sleep(poll_seconds)
        return stats
