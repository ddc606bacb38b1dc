"""Catalog: named time-varying collections and their Spark bindings.

Mirrors the reference's catalog object model (tables / sources / views /
materialized views / indexes / sinks — reference:
src/sql-parser/src/ast/defs/statement.rs:43-117) onto Spark constructs:

- table/source → parquet-backed DataFrame registered as a temp view
- view → stored logical plan (a DataFrame is exactly that)
- materialized view → maintained result table (see streaming/ivm.py)
- index → persisted/cached DataFrame pre-partitioned on the key
  (the reference's "arrangement"; here Catalyst reuses the exchange)

Scale note: dimension tables below the broadcast threshold are marked
broadcastable; query code applies ``F.broadcast`` so 100 TB fact-table joins
never shuffle the fact side on dim joins.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import MutableMapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as SQLF

# Driver-provided tables (TESTDATA.md). region/nation are O(10^1-10^2) rows at
# any scale factor → always broadcast. supplier/part/customer grow with SF but
# stay orders of magnitude under lineitem/orders → broadcast decision left to
# AQE + autoBroadcastJoinThreshold unless a query hints otherwise.
TABLES: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
ALWAYS_BROADCAST: frozenset[str] = frozenset({"region", "nation"})

# Arrangement keys — the reference's default: every source/index is an
# arrangement BY KEY, and joins run against those arrangements without
# re-shuffling (delta joins reuse indexes; SURVEY §4.3). Spark analog:
# hash-repartition the persisted table on its primary join key, so
# Catalyst's EnsureRequirements sees HashPartitioning on the fact side of
# every equi-join on that key and elides the per-query Exchange — the
# shuffle is paid once at arrangement build, like CREATE INDEX. Keys are
# each table's dominant equi-join column in the reference's TPC-H suite
# (lineitem/orders join on orderkey in q3/q5/q12/q18/q21; partsupp-style
# part/supplier joins on their pk). Tables whose workloads are scan- or
# explode-shaped (events/documents/embeddings) stay round-robin: their
# operators repartition explicitly where compute-bound.
ARRANGE_KEYS: dict[str, str] = {
    "lineitem": "l_orderkey", "orders": "o_orderkey",
    "customer": "c_custkey", "supplier": "s_suppkey",
    "part": "p_partkey",
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# In-memory arrangement budget for base tables. The reference keeps every
# source arranged in memory (differential arrangements serve all reads); the
# Spark analog is persisting the decoded columnar table, which turns every
# subsequent query's parquet scan+decode into an in-memory columnar scan.
# Gated on DECODED size (parquet-footer uncompressed bytes — what the cache
# actually occupies, 4-6x the snappy on-disk size) so the model degrades
# correctly at scale: dimensions (region..part, ~MBs even at 100 TB SF) stay
# resident on every executor's block manager, while a fact table past the
# budget streams from parquet with pushdown/pruning as before — measured at
# x50 (sf5-equivalent): gating on on-disk bytes kept a 2.9 GiB-decoded
# lineitem cached and starved ShuffledHashJoin builds of execution memory
# ("Can't acquire ... to build hash relation"); the decoded gate drops it
# to the parquet path and every query completes. 0 disables caching.
# 4 GiB decoded: sized against session.py's 24g local heap so the
# protected storage region still holds the full arrangement set at
# sf5-equivalent (measured: x50 headline total 16.1s uncached-lineitem vs
# 8.0s cached, both stable; 2.9 GiB decoded lineitem + ~1 GiB rest).
ARRANGE_BYTES = 4 << 30

# Rows per in-memory arrangement shard. Parquet files at small SF come out
# as 1-3 input splits, which serializes every later scan of the cache, so
# arrangements are sharded by ROW count from the parquet footer (free — no
# Spark job), not on-disk bytes: snappy compresses TPC-H columns ~5-8x, so
# byte-based sizing left a 600k-row lineitem on 3 shards and orders on 1,
# serializing every map stage (measured: q1's scan+partial-agg drops
# 293ms -> 139ms going 3 -> 32 shards at sf0.1). This many rows per shard
# keeps per-task compute well above the ~1ms/task scheduling cost; the
# count is capped at core count — the analog of the reference sharding
# arrangements across workers.
ROWS_PER_SHARD = 32_000

# Crossover for the scan-optimal access path (LazyTables.scan): below,
# the sharded in-memory arrangement reads faster (sf0.1 measured: q1
# 135 ms cached vs 191 parquet); above, the vectorized parquet reader
# wins (x10: q1 216 parquet vs 289 cached; lineitem decoded 13 MiB at
# sf0.1, 580 MiB at x10 — 128 MiB sits between the measured points).
SCAN_PARQUET_BYTES = 128 << 20


def _footer_stats(path: str) -> tuple[int, int]:
    """``(rows, decoded bytes)`` from parquet footers — a driver-local
    metadata read, no job. Decoded (uncompressed) bytes are what the data
    weighs in memory and in shuffles: snappy compresses TPC-H columns
    5-8x, so sizing by on-disk bytes under-provisions by that factor.
    Falls back to ``(0, on-disk bytes)`` when footers are unreadable."""
    try:
        import pyarrow.parquet as pq
        files = [path] if os.path.isfile(path) else [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(path)
            for f in fs if f.endswith(".parquet")]
        rows = size = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            rows += md.num_rows
            size += sum(md.row_group(i).total_byte_size
                        for i in range(md.num_row_groups))
        return rows, size or _on_disk_bytes(path)
    except Exception:
        return 0, _on_disk_bytes(path)


def _on_disk_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# Runtime-settable SQL confs the engine depends on, for correctness and for
# speed at every scale. The session factory (session.py) builds with them;
# load_tables applies them once to any other session — the driver harness
# hands us its own vanilla SparkSession. All keys below are runtime SQL
# confs (verified settable on a live session). The data-sized confs are
# not here: apply_policy owns them.
_RUNTIME_CONFS: dict[str, str] = {
    # Driver testdata stores events.ts as parquet TIMESTAMP(NANOS), which
    # Spark's reader rejects outright; read as long nanos and convert below.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Where AQE runs (past the policy's data gate), coalesce post-shuffle
    # partitions to the advisory size rather than keeping
    # cluster-parallelism many tiny tasks: fewer, right-sized tasks win
    # both locally and at scale (AQE still splits skew).
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Arrow fast path for the pipeline Pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast threshold 64 MiB: TPC-H-style dimensions (region, nation,
    # supplier, part, customer) stay broadcastable far up the scale curve,
    # keeping fact-table joins shuffle-free on the fact side. Default
    # 10 MiB is tuned for small executors; at 100 TB the executors that
    # can hold a shuffle can hold a 64 MiB broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
    # Prefer shuffled-hash over sort-merge when a side's per-partition
    # build fits memory: the reference's joins are always hash joins over
    # arrangements (never sort-based), and skipping both sorts wins
    # consistently (~13% at sf0.1; Spark falls back to SMJ for
    # giant-x-giant sides, and AQE skew-splitting covers SHJ too).
    "spark.sql.join.preferSortMergeJoin": "false",
    # Arrangement (persisted-table) scan speed: the reference keeps
    # arrangements as plain in-memory ordered batches, not compressed
    # blocks. Spark's cache defaults (lz4-style per-column compression,
    # 10k-row batches) cost ~20-25% on cached scan+agg (q1 at sf0.1:
    # 0.167 → 0.128 s best-of-6 with both changes; measured, PERF.md).
    # Memory trade-off is the reference's own: arrangements are sized
    # raw, and the cache budget (ARRANGE_BYTES) already gates residency.
    "spark.sql.inMemoryColumnarStorage.compression": "false",
    "spark.sql.inMemoryColumnarStorage.batchSize": "65536",
}


# Weak per-session memo (NOT id(spark): CPython reuses ids after GC, which
# would silently skip conf application on a fresh session).
_CONFS_APPLIED: weakref.WeakSet = weakref.WeakSet()

# Per-session record of which sf_dir's DataFrame currently backs each temp
# view name. Temp views are one namespace per session shared across scale
# factors; SQL-string queries consult this to re-bind names only when a
# different sf_dir registered them last (one py4j roundtrip per stale view
# instead of per query).
_VIEW_OWNER: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def view_owner(spark: SparkSession) -> dict:
    owner = _VIEW_OWNER.get(spark)
    if owner is None:
        owner = {}
        _VIEW_OWNER[spark] = owner
    return owner


def _disable_df_debug_overhead() -> None:
    """Turn off PySpark 4's per-call DataFrame-debugging origin capture.

    pyspark/errors/utils.py wraps EVERY DataFrame/Column API call with a
    ``spark.conf.get`` JVM roundtrip + ``PySparkCurrentOrigin`` set/clear
    calls + a Python stack walk when
    ``spark.python.sql.dataFrameDebugging.enabled`` is true (the default).
    The delta-MV maintenance path issues thousands of such calls per commit
    batch — measured ~25k py4j roundtrips per warm
    sqlfront_delta_mv_q21_exists run (OPTIMIZATION_r14.md). The flag is
    STATIC: our session factory sets it at build time (session.py), but the
    driver hands us a vanilla session where it can no longer be set. The
    enablement is read once per process into a module-level cache, so for
    externally built sessions we set that cache directly — it only controls
    error-message call-site enrichment, never a plan or a result."""
    try:
        from pyspark.errors import utils as _perr_utils
        _perr_utils._enable_debugging_cache = False
    except Exception:
        pass


def _ensure_runtime_confs(spark: SparkSession) -> None:
    """Set engine-required runtime confs on an externally built session.

    Memoized per live session: each conf.set is a py4j roundtrip, and
    every load_tables call runs this."""
    if spark in _CONFS_APPLIED:
        return
    _CONFS_APPLIED.add(spark)
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build: keep going, reads may still work
    _disable_df_debug_overhead()
    # Memoize PySpark's per-call JVM handle fetches (functions registry,
    # col/lit construction) — the measured top roundtrip classes in the
    # delta-MV commit path (see jvmcache module docstring).
    try:
        from materialize_spark.jvmcache import install as _jvm_install
        _jvm_install()
    except Exception:
        pass


# -- data-sized session policy ------------------------------------------------
# Below this many attached decoded bytes the data is "small", and three
# things that pay only with data are switched off:
#
# - AQE. Every plan decision it could revisit (broadcast vs shuffle,
#   partition counts, skew splits) is already fully determined by
#   file-size statistics at planning time, and each stage barrier costs a
#   driver roundtrip + re-optimize (~30-50 ms/query measured at sf0.1 —
#   PERF.md). Measured (round 9): headline suite with AQE off is 21%
#   faster at sf0.1 (0.995 vs 1.259 s) and 8% faster at x10 (1.694 vs
#   1.846 s) — the pinned plans leave AQE nothing to improve — while at
#   x50 (~12 GiB decoded) on/off is a wash (8.33 vs 8.33 s; AQE's
#   partition coalescing starts paying for its barriers). 8 GiB puts the
#   crossover between those measured points.
# - The optimizer rules of _PLANNER_SCALE_CONFS, whose BENEFIT is
#   data-proportional but whose planning COST is a constant per query:
#   constraint propagation (derives redundant IsNotNull/range predicates —
#   worthwhile when they prune terabytes at a scan, pure planner CPU when
#   the whole input is memory-resident), dynamic partition pruning
#   (searches for prunable partitioned scans we never have at bench
#   scale), and runtime filter injection (Bloom/semi join reduction per
#   guide §3.2 — load-bearing on 100 TB fact scans, unreachable below the
#   AQE/broadcast sizes here). Measured at sf0.1 (OPTIMIZATION_r13.md):
#   the three rules cost ~30-40% of headline plan time (0.295 -> 0.209 s
#   for constraint propagation alone) and ~7% of end-to-end latency while
#   changing nothing in the executed plans.
# - Whole-stage codegen of maintenance lineage breaks (ckpt.lineage_break):
#   the per-commit literals make each generated source novel, so the
#   janino cache never hits and the compile is pure planning cost
#   (measured: 6.9 s -> 3.9 s of break time on a warm
#   sqlfront_delta_mv_q21_exists); above the gate the checkpointed state
#   parts are big enough that compiled evaluation pays for its compile.
SMALL_DATA_BYTES = 8 << 30

# Post-shuffle parallelism is sized to the data attached: fixed per-task
# overhead dominates when reducers hold a few MB each, so the policy
# targets ~32 MiB of DECODED input per post-shuffle partition, floored at
# MIN_SHUFFLE (some parallelism even for toy inputs) and capped at 4096
# (at that point AQE coalescing owns the decision; the reference sizes its
# dataflow shards the same way, by data not by a constant).
MIN_SHUFFLE = 8

_PLANNER_SCALE_CONFS = (
    # default-ON rules only: past the gate we restore Spark's default,
    # never invert a default-off feature
    "spark.sql.constraintPropagation.enabled",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
)


@dataclass(frozen=True)
class ScalePolicy:
    """What the size of one data directory decides for the statements
    over it (see SMALL_DATA_BYTES and MIN_SHUFFLE)."""

    shuffle_partitions: int
    small: bool


# Per-session memo of the (policy, timezone) apply_policy last wrote.
_APPLIED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _policy_confs(policy: ScalePolicy, timezone: str) -> dict[str, str]:
    at_scale = str(not policy.small).lower()
    return {
        "spark.sql.adaptive.enabled": at_scale,
        "spark.sql.shuffle.partitions": str(policy.shuffle_partitions),
        **dict.fromkeys(_PLANNER_SCALE_CONFS, at_scale),
        "spark.sql.session.timeZone": timezone,
    }


def apply_policy(spark: SparkSession, policy: ScalePolicy,
                 timezone: str = "UTC") -> None:
    """Make ``policy`` and ``timezone`` the session's: the one writer of
    the confs they own. Called at statement start by every engine entry
    (load_tables, each MzSession entry), so one caller's data size or
    ``SET timezone`` never leaks into another's statements. Only the
    keys that differ from the last applied value are written; an
    unchanged policy costs a dict lookup and no py4j round trip."""
    want = (policy, timezone)
    prev = _APPLIED.get(spark)
    if prev == want:
        return
    old = _policy_confs(*prev) if prev else {}
    # a failed write leaves no memo, so the next call writes every key
    _APPLIED.pop(spark, None)
    for k, v in _policy_confs(policy, timezone).items():
        if old.get(k) != v:
            spark.conf.set(k, v)
    _APPLIED[spark] = want


def light_maintenance_plans(spark: SparkSession) -> bool:
    """True when the session's applied policy is for small data: then
    maintenance lineage breaks skip whole-stage codegen (ckpt.py)."""
    applied = _APPLIED.get(spark)
    return applied is not None and applied[0].small


class LazyTables(MutableMapping):
    """Per-table lazy loader: a query only reads (and registers a temp view
    for) the tables it actually touches, so e.g. a TPC-H query can never be
    killed by an unrelated table's exotic parquet types — and never pays the
    other nine tables' footer reads."""

    def __init__(self, spark: SparkSession, sf_dir: str, register: bool = True):
        self._spark = spark
        self._sf_dir = sf_dir
        self._register = register
        self._loaded: dict[str, DataFrame] = {}
        self._available = [
            n for n in TABLES if os.path.exists(self._path(n))]
        # (rows, decoded bytes) per table, read once from the footers
        self._stats = {n: _footer_stats(self._path(n))
                       for n in self._available}
        # The session policy sees DECODED bytes (what shuffles and caches
        # actually carry), not the snappy-compressed on-disk size.
        total = sum(size for _rows, size in self._stats.values())
        self.policy = ScalePolicy(
            shuffle_partitions=max(MIN_SHUFFLE,
                                   min(total // (32 << 20), 4096)),
            small=total < SMALL_DATA_BYTES)
        self._cores = spark.sparkContext.defaultParallelism
        # ONE shard count for every keyed arrangement (the reference
        # arranges all collections across the same timely worker set).
        # Per-table row-proportional counts left co-joined arrangements
        # with MISMATCHED partitioning (orders at 4, lineitem at 18 at
        # sf0.1), so EnsureRequirements re-shuffled the smaller fact on
        # every orderkey join — a per-query exchange the arrangement
        # exists to eliminate. Sized by the largest under-budget keyed
        # table so the biggest fact keeps its per-shard compute.
        self._keyed_shards = self._shards(max(
            (self._stats[n][0] for n in self._available
             if n in ARRANGE_KEYS and self._arranged(n)), default=0))

    def _path(self, name: str) -> str:
        return os.path.join(self._sf_dir, f"{name}.parquet")

    def decoded_bytes(self, name: str) -> int:
        """Footer-decoded size of table ``name`` (0 when not a table)."""
        return self._stats.get(name, (0, 0))[1]

    def _arranged(self, name: str) -> bool:
        """Under the in-memory arrangement budget (ARRANGE_BYTES)."""
        return 0 < self.decoded_bytes(name) <= ARRANGE_BYTES

    def _shards(self, rows: int) -> int:
        """Arrangement shard count for ``rows`` (ROWS_PER_SHARD), capped
        at core count."""
        return max(1, min(rows // ROWS_PER_SHARD, self._cores))

    def _read_parquet(self, name: str) -> DataFrame:
        """Raw vectorized parquet read with the type normalizations every
        access path needs (no caching/arrangement)."""
        df = self._spark.read.parquet(self._path(name))
        # Parquet TIMESTAMP(NANOS) columns surface differently per Spark
        # version: <=3.x with nanosAsLong reads them as LongType nanos;
        # 4.1+ ignores that conf and reads TIMESTAMP_NTZ. Normalize both to
        # session-TZ (UTC) microsecond timestamps so every downstream
        # unix_micros / timestamp cast resolves. Integer division for the
        # nanos branch — double division loses ULPs above 2^53 ns.
        for f in df.schema.fields:
            simple = f.dataType.simpleString()
            if name == "events" and f.name == "ts" and simple == "bigint":
                df = df.withColumn("ts", SQLF.expr("timestamp_micros(ts div 1000)"))
            elif simple == "timestamp_ntz":
                # session TZ is UTC (apply_policy's default), so this cast
                # preserves the wall-clock value — same semantics DuckDB's
                # naive timestamps give the oracle side.
                df = df.withColumn(f.name, SQLF.col(f.name).cast("timestamp"))
        return df

    def _read(self, name: str) -> DataFrame:
        df = self._read_parquet(name)
        # Arrange in memory when under budget (lazy: first use materializes;
        # exact same rows, so correctness paths are unaffected), sharded
        # across cores by row count (ROWS_PER_SHARD).
        if self._arranged(name):
            shards = self._shards(self._stats[name][0])
            key = ARRANGE_KEYS.get(name)
            if key is not None and key in df.columns \
                    and self._keyed_shards > 1:
                # keyed arrangement: HashPartitioning survives persist(),
                # so equi-joins on the key skip their Exchange entirely.
                # Uniform shard count across ALL keyed arrangements (see
                # __init__) — co-partitioned joins need matching counts.
                df = df.repartition(self._keyed_shards, SQLF.col(key))
            elif shards > df.rdd.getNumPartitions():
                df = df.repartition(shards)
            df = df.persist()
        if self._register:
            df.createOrReplaceTempView(name)
            view_owner(self._spark)[name] = self._sf_dir
        return df

    def __getitem__(self, name: str) -> DataFrame:
        if name in self._loaded:
            return self._loaded[name]
        if name not in self._available:
            raise KeyError(name)
        df = self._read(name)
        self._loaded[name] = df
        return df

    def index(self, name: str, key: str) -> DataFrame:
        """Secondary arrangement — the CREATE INDEX analog. The primary
        arrangement (_read) is keyed by the table's dominant join key;
        a query joining on a DIFFERENT column would re-shuffle the fact
        per execution. Like the reference (where each CREATE INDEX is
        one more arrangement of the same collection, costed in memory),
        this builds and persists one extra copy hash-partitioned on
        ``key`` and registers it as the temp view ``{name}_by_{key}``,
        so equi-joins on that key become exchange-free too."""
        view = f"{name}_by_{key}"
        if view in self._loaded:
            return self._loaded[view]
        base = self[name]
        if self._arranged(name) and self._keyed_shards > 1:
            arranged = base.repartition(
                self._keyed_shards, SQLF.col(key)).persist()
        else:
            arranged = base  # past budget: parquet scan shape unchanged
        if self._register:
            arranged.createOrReplaceTempView(view)
            view_owner(self._spark)[view] = self._sf_dir
        self._loaded[view] = arranged
        return arranged

    def denorm(self, name: str) -> DataFrame:
        """Shared denormalized arrangement — the reference's
        share-arrangements-across-dataflows pattern (an index on a view:
        the view pre-joins O(10)-row dims onto a dimension table, the
        index keeps the result arranged). ``supplier_denorm`` attaches
        n_name/r_name to supplier via its nation/region keys, so every
        query that wants a supplier's nation or region name joins ONE
        broadcast table instead of chaining three — at any scale the
        denorm is exactly supplier-sized (dims add two short strings).
        Built once per session, persisted, keyed like the base table."""
        if name in self._loaded:
            return self._loaded[name]
        if name == "supplier_asia_denorm":
            # the region-filtered projection of supplier_denorm as its
            # own SHARED arrangement (q5's asia build): 3 columns,
            # ASIA-only, persisted in one shard — per-execution cost is
            # one broadcast build over this tiny cached frame; the
            # filter + projection + dim joins are paid once per session
            # (the reference keeps an index on exactly such a filtered
            # view and shares it across dataflows).
            asia = (self.denorm("supplier_denorm")
                    .filter(SQLF.col("r_name") == "ASIA")
                    .select("s_suppkey", "s_nationkey", "n_name")
                    .repartition(1).persist())
            if self._register:
                asia.createOrReplaceTempView(name)
                view_owner(self._spark)[name] = self._sf_dir
            self._loaded[name] = asia
            return asia
        if name != "supplier_denorm":
            raise KeyError(name)
        sup, nat, reg = self["supplier"], self["nation"], self["region"]
        df = (
            sup.join(SQLF.broadcast(nat.select("n_nationkey", "n_name",
                                               "n_regionkey")),
                     sup["s_nationkey"] == SQLF.col("n_nationkey"))
            .join(SQLF.broadcast(reg.select("r_regionkey", "r_name")),
                  SQLF.col("n_regionkey") == SQLF.col("r_regionkey"))
            .drop("n_nationkey", "n_regionkey", "r_regionkey")
        )
        if self._arranged("supplier"):
            # broadcast-side arrangement: consumers always broadcast it,
            # so co-located partitioning buys nothing — compact shards
            # instead, making each broadcast BUILD a 1-2 task scan
            # rather than one task per keyed shard.
            df = df.repartition(
                self._shards(self._stats["supplier"][0])).persist()
        if self._register:
            df.createOrReplaceTempView(name)
            view_owner(self._spark)[name] = self._sf_dir
        self._loaded[name] = df
        return df

    def raw(self, name: str) -> DataFrame:
        """File-order parquet read — no arrangement, no persist, no
        repartition. For double aggregates whose result must reproduce
        the oracle's SEQUENTIAL accumulation order: float sums are
        order-sensitive, and the keyed arrangement's shards change the
        partial-agg order enough to flip round(x, 2) at .xx5
        knife-edges (subquery_decorrelated at sf0.001). The raw single
        split accumulates in file order, bit-identical to DuckDB's
        sequential scan (verified at sf0.001/0.01/0.1)."""
        return self._read_parquet(name)

    def scan(self, name: str) -> DataFrame:
        """Scan-optimal access path for no-join aggregate queries
        (q1/q6 shapes): past SCAN_PARQUET_BYTES the raw VECTORIZED
        parquet reader beats the columnar cache's decode (measured x10:
        q1 216 vs 289 ms, q6 140 vs 165; the cache wins below — sf0.1
        q1 135 vs 191). The keyed arrangement exists for join
        co-location, which a pure scan-agg never uses, so it reads
        whichever side of the crossover it is on. Registered as
        ``{name}_scan``."""
        view = f"{name}_scan"
        if view in self._loaded:
            return self._loaded[view]
        if self.decoded_bytes(name) > SCAN_PARQUET_BYTES:
            df = self._read_parquet(name)
        else:
            df = self[name]  # small: the cached arrangement is faster
        if self._register:
            df.createOrReplaceTempView(view)
            view_owner(self._spark)[view] = self._sf_dir
        self._loaded[view] = df
        return df

    def compact(self, name: str) -> DataFrame:
        """Broadcast-side compact arrangement: the SAME rows as the keyed
        arrangement, persisted in row-sized shards (1-2 at bench scale).
        A broadcast BUILD scans every shard of its input as one task
        each — building from the 18-shard keyed arrangement costs ~15 ms
        of pure task overhead per query, from the compact copy ~5 ms.
        Registered as ``{name}_compact``; memory cost is one extra copy
        of a dimension-class table, gated by the same ARRANGE_BYTES
        budget (past budget: the keyed/base arrangement serves reads and
        no copy is made)."""
        view = f"{name}_compact"
        if view in self._loaded:
            return self._loaded[view]
        base = self[name]
        if self._arranged(name):
            arranged = base.repartition(
                self._shards(self._stats[name][0])).persist()
        else:
            arranged = base
        if self._register:
            arranged.createOrReplaceTempView(view)
            view_owner(self._spark)[view] = self._sf_dir
        self._loaded[view] = arranged
        return arranged

    def __setitem__(self, name: str, df: DataFrame) -> None:
        self._loaded[name] = df

    def __delitem__(self, name: str) -> None:
        self._loaded.pop(name, None)
        if name in self._available:
            self._available.remove(name)

    def __contains__(self, name: object) -> bool:
        return name in self._loaded or name in self._available

    def __iter__(self):
        seen = set(self._available)
        yield from self._available
        yield from (k for k in self._loaded if k not in seen)

    def __len__(self) -> int:
        return len(set(self._available) | set(self._loaded))

    def register_all(self) -> None:
        """Force-load every table (SQL front-end needs all names resolvable
        as temp views before parsing arbitrary statements). Re-bind any
        temp view a DIFFERENT sf_dir registered last — loading is
        memoized per (session, sf_dir), so without this a session that
        interleaves scale factors would read one sf_dir's frames
        through another's temp views.

        Per-table work (parquet footer read, arrangement setup, temp-view
        registration) is independent driver-side metadata with no Spark
        job, so it runs on a small thread pool (guide §2.6 overlap):
        measured 5.3 s serial cold / ~1.4 s steady per (session, sf_dir)
        → ~4x less wall. Each worker loads DISTINCT names (dict writes
        are per-key, temp views are per-name), and results land in the
        same _loaded memo the serial path used; any failure falls back
        to the serial loop so an exotic table still raises in caller
        context with the original behavior."""
        names = [n for n in self._available if n not in self._loaded]
        if len(names) > 1:
            try:
                from concurrent.futures import ThreadPoolExecutor
                with ThreadPoolExecutor(max_workers=min(8, len(names))) \
                        as pool:
                    list(pool.map(self.__getitem__, names))
            except Exception:
                pass  # serial loop below retries/raises in caller context
        owner = view_owner(self._spark)
        for name in self._available:
            df = self[name]
            if self._register and owner.get(name) != self._sf_dir:
                df.createOrReplaceTempView(name)
                owner[name] = self._sf_dir


# Handle cache: creating a parquet DataFrame reads file footers eagerly;
# queries re-loading the same tables per call would pay that per query.
# The cache lives as an attribute ON the session object — not in a module
# global — so its lifetime is exactly the session's: a stopped session and
# its persisted DataFrames become collectible together (the session↔cache↔
# DataFrame cycle has no global root; a module-level weak-keyed map whose
# values reference DataFrames would pin the key session forever, since
# every DataFrame holds its session).
_TABLE_CACHE_ATTR = "_materialize_spark_tables"


def clear_table_cache(spark: SparkSession) -> dict:
    """Drop the session's table-handle cache (tests/tools use this to force
    re-reads under changed budgets); returns the previous mapping so it can
    be restored."""
    old = getattr(spark, _TABLE_CACHE_ATTR, {})
    setattr(spark, _TABLE_CACHE_ATTR, {})
    return old


def restore_table_cache(spark: SparkSession, cache: dict) -> None:
    setattr(spark, _TABLE_CACHE_ATTR, dict(cache))


def load_tables(spark: SparkSession, sf_dir: str | None = None,
                register: bool = True) -> LazyTables:
    """Lazy mapping of driver tables in ``sf_dir`` (registers temp views on
    first access). Also installs the engine's required runtime confs on the
    caller's session — the driver contract hands us an arbitrary session —
    and applies the directory's policy, on every call: the statements that
    follow read this directory."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    _ensure_runtime_confs(spark)
    per_session = getattr(spark, _TABLE_CACHE_ATTR, None)
    if per_session is None:
        per_session = {}
        setattr(spark, _TABLE_CACHE_ATTR, per_session)
    tables = per_session.get(sf_dir)
    if tables is None:
        tables = LazyTables(spark, sf_dir, register=register)
        per_session[sf_dir] = tables
    apply_policy(spark, tables.policy)
    return tables


@dataclass
class Catalog:
    """Object registry: the engine-side name → DataFrame/plan mapping."""

    spark: SparkSession
    sf_dir: str = DEFAULT_SF_DIR
    _tables: MutableMapping = field(default_factory=dict)
    _views: dict[str, DataFrame] = field(default_factory=dict)
    _indexes: dict[str, DataFrame] = field(default_factory=dict)
    _index_keys: dict[str, list[str]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._tables = load_tables(self.spark, self.sf_dir)
        # The SQL surface accepts arbitrary statements, so every base name
        # must be resolvable as a temp view before we can parse anything.
        self._tables.register_all()

    # -- tables / sources ---------------------------------------------------
    def table(self, name: str) -> DataFrame:
        if name in self._views:
            return self._views[name]
        if name in self._indexes:
            return self._indexes[name]
        return self._tables[name]

    def register_table(self, name: str, df: DataFrame) -> None:
        self._tables[name] = df
        df.createOrReplaceTempView(name)

    # -- views --------------------------------------------------------------
    def create_view(self, name: str, df: DataFrame) -> None:
        """A view is a stored (lazy) plan — exactly a DataFrame reference."""
        self._views[name] = df
        df.createOrReplaceTempView(name)

    # -- indexes (arrangements) ---------------------------------------------
    def create_index(self, name: str, df: DataFrame, *keys: str) -> DataFrame:
        """Reference 'index' = in-memory arrangement keyed on exprs
        (SURVEY.md §1.3). Spark analog: repartition on the key + persist, so
        later joins/lookups on the key reuse the exchange and the cache.
        """
        arranged = df.repartition(*[df[k] for k in keys]).persist()
        self._indexes[name] = arranged
        self._index_keys[name] = list(keys)
        arranged.createOrReplaceTempView(name)
        return arranged

    def drop(self, name: str, *, if_exists: bool = False) -> None:
        for store in (self._views, self._indexes, self._tables):
            if name in store:
                if store is self._indexes:
                    store[name].unpersist()
                    self._index_keys.pop(name, None)
                del store[name]
                self.spark.catalog.dropTempView(name)
                return
        if not if_exists:
            raise KeyError(f"unknown catalog object {name!r} "
                           f"(use IF EXISTS to make DROP a no-op)")
