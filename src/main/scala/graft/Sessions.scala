package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession construction so Verify/Bench/tests share the
  * same engine configuration.
  */
object Sessions {
  private val localDir =
    sys.env.getOrElse("GRAFT_LOCAL_DIR", "/dev/shm/spark-local")

  /** Whether `dir` lives in tmpfs. Exact-path match: a sibling like
    * /dev/shm-backup is NOT tmpfs and must keep shuffle compression on.
    */
  private[graft] def isTmpfs(dir: String): Boolean =
    dir == "/dev/shm" || dir.startsWith("/dev/shm/")

  def build(appName: String, cpus: String): SparkSession =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // prefer fewer, fuller post-shuffle partitions over max
      // parallelism: at the local latency floor each extra task is pure
      // scheduling overhead, and at cluster scale the advisory size
      // still governs
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // Advisory post-shuffle partition size. The 64 MB default is a
      // cluster number: at single-node bench scale it coalesces every
      // mid-size shuffle to ONE partition, so the expensive final-agg /
      // join stages run on 1 of 32 cores (measured: 300 ms single-task
      // stages in the interactions pipeline). A small advisory keeps
      // those stages parallel locally; on a real cluster the shuffle
      // partition count (thousands) times a larger advisory governs —
      // operators never depend on this value for correctness.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      // Scan-split sizing, same reasoning as the advisory above: the
      // 128 MB default is a cluster number — at bench SF it gives the
      // whole lineitem file to 1-3 tasks, so every scan-rooted stage
      // (joins, partial aggs) starts parallelism-starved. Operators
      // never depend on it for correctness.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      // testdata events.parquet stores TIMESTAMP(NANOS); Spark 4 only
      // reads it via this conf (as LongType nanos — normalized back to
      // TimestampType in Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Recursive-CTE working-set guard: Spark 4's 1M-row default is a
      // toy-scale runaway trap — the r9 ≈sf1 sweep tripped it on a
      // 150k-customer ancestor walk (~4M rows), and ANY real recursion
      // over a 100 TB fact table exceeds it. 1B rows keeps a genuine
      // runaway bounded (the level limit, default 100, is the depth
      // belt) without failing legitimate hierarchy walks.
      .config("spark.sql.cteRecursionRowLimit", "1000000000")
      // Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — how the
      // driver's pandas/pyarrow writer stamps ts/o_orderdate/l_shipdate
      // — would otherwise surface as TIMESTAMP_NTZ, which functions
      // like unix_micros reject. Session timezone is pinned UTC above,
      // so reading them as ordinary TIMESTAMP is value-identical and
      // keeps every temporal operator on one type.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // The VM's root disk shows multi-second uninterruptible-IO stalls
      // under Spark's shuffle/temp writes; keep ephemeral state in tmpfs.
      .config("spark.local.dir", localDir)
      // Compression off is justified ONLY by the tmpfs local.dir:
      // shuffle blocks in RAM buy no IO from lz4 and pay its CPU in
      // the row-heavy exchanges. The default is therefore DERIVED from
      // where the blocks actually live — a disk-backed GRAFT_LOCAL_DIR
      // flips compression back on.
      .config("spark.shuffle.compress", (!isTmpfs(localDir)).toString)
      .config("spark.shuffle.spill.compress", (!isTmpfs(localDir)).toString)
      // bucketed-table ops (bucketed_join_agg) write managed tables;
      // keep the warehouse out of the repo and off the stalling root fs
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("GRAFT_WAREHOUSE", "/dev/shm/graft-warehouse"))
      // ObjectHashAggregate's sort-based fallback threshold is LEFT AT
      // the default 128: raising it to 64k was measured (r11) and
      // REGRESSED the object-aggregate pipelines ~50% beyond window
      // noise (item_item_cosine 1.94 → 3.06 s min-of-5) — thousands of
      // live set/heap buffers in one hash map lose to the fallback's
      // sort-then-stream regime, which keeps ONE active buffer and
      // perfect locality. See BENCH.md.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
