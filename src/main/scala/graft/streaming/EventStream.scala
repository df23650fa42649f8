package graft.streaming

import graft.oracle.Parity
import graft.oracle.Parity.SparkD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface over the `events` table (SURVEY.md §2.9:
  * the reference is batch-only; this is the driver's extension surface).
  *
  * The hourly tumbling aggregate matches [[graft.operators.EventOps.hourly]]
  * exactly (same fixed-point sum), so the batch SQL doubles as the
  * streaming oracle — a stream/batch differential test.
  */
object EventStream {

  /** Hourly tumbling window counts with a watermark for late data.
    * `ts` is epoch-nanos BIGINT (Tables.read) → event-time TIMESTAMP for
    * the watermark/window machinery; the output key is epoch seconds,
    * identical to the batch [[graft.operators.EventOps.hourly]]. */
  def hourlyAgg(stream: DataFrame): DataFrame =
    stream
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_t", "1 hour")
      .groupBy(window(col("ts_t"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr(Parity.fpSum("value")).as("v"))
      .select(expr("unix_micros(w.start) div 1000000").as("hour_epoch"),
        col("event_type"), col("n"), col("v"))

  /** Streaming exact dedup: dropDuplicates state keyed by
    * (user_id, event_type) — the streaming leg of the dedup suite; counts
    * of first-seen pairs per type equal the batch COUNT(DISTINCT user_id)
    * (that's the oracle). */
  def dedupCounts(stream: DataFrame): DataFrame =
    stream
      .dropDuplicates("user_id", "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_distinct_users"))

  /** RocksDB state-store provider (bundled with Spark; rocksdbjni on
    * the classpath) — what a large deployment runs for heavy state:
    * per-partition state lives in local SST files with changelog/
    * snapshot files in the checkpoint instead of as JVM-heap hash maps,
    * so state volume is bounded by local disk, not executor heap. The
    * heavy-state gates below run under it, and ENGAGEMENT IS ASSERTED
    * from query progress (rocksdb custom metrics on the state
    * operator), never assumed from the conf — a typo'd provider class
    * would otherwise fail open to the default. */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[T](spark: SparkSession)(body: => T): T =
    withRocksDb0(spark, enabled = true)(body)

  private def withRocksDb0[T](spark: SparkSession, enabled: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, RocksDbProvider)
      try body
      finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }

  private def requireRocksDbEngaged(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    import scala.jdk.CollectionConverters._
    val engaged = q.recentProgress.exists(_.stateOperators.exists(
      _.customMetrics.keySet().asScala.exists(_.toLowerCase.contains("rocksdb"))))
    require(engaged, "RocksDB state-store provider did not engage: " +
      "no rocksdb state metrics in query progress")
  }

  /** Shared one-shot driver: stage the static events parquet as a stream
    * source, run the query AvailableNow, return the memory-sink table.
    * The streaming shuffle is narrowed to 8 partitions for the run
    * (restored after): stateful operators keep a state store per shuffle
    * partition, and for these small streams the fixed store init/commit
    * dominates at 32 — the same "size shuffle partitions to state
    * volume" decision a cluster deploy makes. Results are
    * partitioning-invariant (asserted by the oracle gate). */
  private def runAvailableNow(spark: SparkSession, sfDir: String, prefix: String,
                              mode: String, build: DataFrame => DataFrame,
                              rocksDb: Boolean = false): DataFrame = {
    val src = graft.Scratch.path(s"graft_${prefix}_src_")
    // the table may be a single parquet file (driver testdata) or a
    // directory of part files (replica sets written by df.write) — stage
    // every data file either way
    val tbl = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    if (java.nio.file.Files.isDirectory(tbl)) {
      val it = java.nio.file.Files.list(tbl)
      try it.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .forEach(p => java.nio.file.Files.copy(p, src.resolve(p.getFileName.toString)))
      finally it.close()
    } else java.nio.file.Files.copy(tbl, src.resolve("events.parquet"))
    // declare the file's NATIVE schema, then normalize onto the
    // epoch-nanos contract — declaring the post-normalization schema
    // would make the reader reinterpret raw timestamp micros as longs
    val schema = graft.sources.Tables.rawSchema(spark, sfDir, "events")
    val stream = graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(src.toString))
    val qName = s"graft_${prefix}_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      withRocksDb0(spark, rocksDb) {
        val q = build(stream).writeStream
          .outputMode(mode).format("memory").queryName(qName)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        if (rocksDb) requireRocksDbEngaged(q)
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(qName)
  }

  /** One-shot driver for [[dedupCounts]] over the static events parquet.
    * Heavy-state pattern (a state row per distinct key, unbounded) →
    * runs on the RocksDB provider, engagement asserted. */
  def runDedupOnce(spark: SparkSession, sfDir: String): DataFrame =
    runAvailableNow(spark, sfDir, "dedup", "complete", dedupCounts, rocksDb = true)

  // --------------------------------------------------------------------
  // Late-data / watermark drop-semantics gate
  // --------------------------------------------------------------------

  /** Hour-aligned engineered time base (seconds): 1600002000 / 3600 is
    * integral, so every window boundary is :00 while every engineered
    * event time sits at :10 or :40 — no window-end/watermark ties, the
    * drop decision is never a boundary coin-flip. */
  private val LateBase: Long = 1600002000L

  /** Watermark DROP-semantics differential — the gate that PROVES late
    * rows beyond the watermark are discarded and late rows within it are
    * admitted, instead of assuming it (the other stream gates replay
    * in-order data where the watermark never bites).
    *
    * Three staged files processed as three micro-batches
    * (`maxFilesPerTrigger 1`, modification times pinned). Spark splits
    * the watermark since SPARK-24634: late-event FILTERING in batch N
    * uses the watermark committed after batch N−1 (one batch behind the
    * eviction watermark), so a filler micro-batch sits between the
    * on-time data and the late arrivals — without it the late filter
    * still runs at the initial 0 watermark and nothing drops (verified
    * empirically; the no-data batches a continuous deployment gets for
    * free play this role there).
    *
    *  - batch 1 (event_id % 11 ≠ 0): event times spread over hours
    *    0..47 after [[LateBase]] (+10 min) → the committed 1-hour
    *    watermark stands at hour 46 + 10 min.
    *  - batch 2: one 'tick' filler row at hour 47 + 10 min (equal to
    *    the running max — advances nothing, admitted, ticks the batch
    *    clock so the late filter catches up).
    *  - batch 3 (event_id % 11 = 0): every id % 33 = 0 row arrives with
    *    an event time 100 h BEFORE the base — far beyond the watermark,
    *    and Structured Streaming must DROP it; the rest arrive at hour
    *    46 + 40 min — late (their hour-46 peers were batch-1 rows) but
    *    within the watermark, and must MERGE into the still-open
    *    hour-46 window. One 'future' row at hour 72 + 10 min pushes the
    *    final watermark past every real window's end so append mode
    *    emits them all (its own window stays unemitted and is excluded
    *    from the oracle).
    *
    * The oracle is the batch aggregate over exactly the
    * watermark-admitted set (batch 1 ∪ the tick ∪ the within-watermark
    * late rows), spelled with the same engineered-time arithmetic — if
    * a beyond-watermark row leaked in, its negative-hour window appears
    * and the row set mismatches; if a within-watermark late row were
    * dropped, the hour-46 counts mismatch. */
  def runLateDropOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val ev = graft.sources.Tables.read(spark, sfDir, "events")
    val baseNs = s"${LateBase}000000000"
    val hourNs = "3600000000000"
    val b1 = ev.filter(expr("event_id % 11 <> 0"))
      .selectExpr(
        s"cast($baseNs + (event_id % 48) * $hourNs + 600000000000 as bigint) as ts",
        "event_type", "value")
    val b2 = spark.sql(
      s"select cast($baseNs + 47 * $hourNs + 600000000000 as bigint) as ts, " +
        "'tick' as event_type, 0e0 as value")
    val b3 = ev.filter(expr("event_id % 11 = 0"))
      .selectExpr(
        s"""cast(case when event_id % 33 = 0 then $baseNs - 100 * $hourNs
           | else $baseNs + 46 * $hourNs + 2400000000000 end as bigint) as ts"""
          .stripMargin.replace("\n", " "),
        "event_type", "value")
      .unionByName(spark.sql(
        s"select cast($baseNs + 72 * $hourNs + 600000000000 as bigint) as ts, " +
          "'future' as event_type, 0e0 as value"))
    val src = graft.Scratch.path("graft_latedrop_src_")
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = graft.Scratch.dir(s"graft_latedrop_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head
      val dst = src.resolve(s"$name.parquet")
      Files.copy(Paths.get(part.getPath), dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    stage(b1, "a_batch1", 1000000L)
    stage(b2, "b_batch2", 2000000L)
    stage(b3, "c_batch3", 3000000L)
    val stream = spark.readStream
      .schema("ts BIGINT, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
    val agg = stream
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_t", "1 hour")
      .groupBy(window(col("ts_t"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), expr(Parity.fpSum("value")).as("v"))
      .select(expr("unix_micros(w.start) div 1000000").as("hour_epoch"),
        col("event_type"), col("n"), col("v"))
    val qName = "graft_latedrop_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = agg.writeStream
        .outputMode("append").format("memory").queryName(qName)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(qName)
  }

  // --------------------------------------------------------------------
  // Stateful-aggregation restart/recovery gate (checkpoint + file sink)
  // --------------------------------------------------------------------

  /** State RECOVERY differential: a windowed aggregation stopped and
    * restarted from its checkpoint must resume its open-window state,
    * not rebuild it — proven by splitting one window's contributions
    * across the restart boundary.
    *
    * Run 1 processes hours 0..47 plus one opener row in hour 50; its
    * final watermark (49h10) closes and emits hours 0..47 to an
    * exactly-once FileStreamSink (parquet + `_spark_metadata` manifest),
    * while the hour-50 window stays OPEN in checkpointed state. New
    * files are staged, and run 2 — same checkpoint, same sink — feeds
    * more hour-50 rows plus a future row that closes everything. The
    * emitted hour-50 count must combine contributions from BOTH runs:
    * lost state would emit a run-2-only count, and a sink without the
    * manifest would double rows re-listed across restarts. The oracle
    * is the batch aggregate over all admitted rows.
    *
    * (Run-2 additions sit at 50h40 — above run 1's committed watermark,
    * so the lagged late-filter admits them on arrival.) */
  def runRestartAggOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val ev = graft.sources.Tables.read(spark, sfDir, "events")
    val baseNs = s"${LateBase}000000000"
    val hourNs = "3600000000000"
    val b1 = ev.filter(expr("event_id % 11 <> 0"))
      .selectExpr(
        s"cast($baseNs + (event_id % 48) * $hourNs + 600000000000 as bigint) as ts",
        "event_type", "value")
    // run-1 opener: hour-50 state that must SURVIVE the restart
    val b2 = spark.sql(
      s"select cast($baseNs + 50 * $hourNs + 600000000000 as bigint) as ts, " +
        "'opener' as event_type, 2e0 as value")
    // run-2 additions: more hour-50 mass + the closing future row
    val b3 = ev.filter(expr("event_id % 11 = 0"))
      .selectExpr(
        s"cast($baseNs + 50 * $hourNs + 2400000000000 as bigint) as ts",
        "'opener' as event_type", "value")
      .unionByName(spark.sql(
        s"select cast($baseNs + 80 * $hourNs + 600000000000 as bigint) as ts, " +
          "'future' as event_type, 0e0 as value"))
    val src = graft.Scratch.path("graft_restart_src_")
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = graft.Scratch.dir(s"graft_restart_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = src.resolve(s"$name.parquet")
      Files.copy(Paths.get(part.getPath), dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
    }
    val ckpt = graft.Scratch.dir("graft_restart_ckpt_")
    val sink = graft.Scratch.dir("graft_restart_sink_")
    def run(): Unit = {
      val agg = spark.readStream
        .schema("ts BIGINT, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ts_t", "1 hour")
        .groupBy(window(col("ts_t"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), expr(Parity.fpSum("value")).as("v"))
        .select(expr("unix_micros(w.start) div 1000000").as("hour_epoch"),
          col("event_type"), col("n"), col("v"))
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        // BOTH runs execute under RocksDB: state written by run 1 must
        // load back in run 2 from the checkpoint — provider-format
        // compatibility across restart, the thing a production upgrade
        // of a 100 TB streaming deployment actually depends on
        withRocksDb(spark) {
          val q = agg.writeStream
            .outputMode("append").format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          requireRocksDbEngaged(q)
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    stage(b1, "a_batch1", 1000000L)
    stage(b2, "b_batch2", 2000000L)
    run() // emits hours 0..47; hour-50 opener held in checkpointed state
    stage(b3, "c_batch3", 3000000L)
    run() // resumes state; hour-50 emits with BOTH runs' contributions
    spark.read.parquet(sink)
  }

  /** DuckDB mirror of [[runRestartAggOnce]]: the batch aggregate over
    * every admitted row (the future row's unemitted window excluded) —
    * hour 50 combines the pre- and post-restart contributions. */
  def restartAggSql(table: String = "events"): String = {
    val baseUs = s"${LateBase}000000"
    s"""with m as (
       | select case when event_id % 11 <> 0
       |   then $baseUs + (event_id % 48) * 3600000000 + 600000000
       |  else $baseUs + 50 * 3600000000 + 2400000000 end as tsm,
       |  case when event_id % 11 <> 0 then event_type
       |   else 'opener' end as event_type, value
       | from $table
       | union all
       | select $baseUs + 50 * 3600000000 + 600000000 as tsm,
       |  'opener' as event_type, 2e0 as value)
       |select (tsm // 3600000000) * 3600 as hour_epoch, event_type,
       | cast(count(*) as bigint) as n, ${Parity.fpSum("value")} as v
       |from m group by 1, 2""".stripMargin.replace("\n", " ")
  }

  // --------------------------------------------------------------------
  // Streaming dedup state-TTL gate (dropDuplicatesWithinWatermark)
  // --------------------------------------------------------------------

  /** State-TTL dedup differential — `dropDuplicatesWithinWatermark`'s
    * BOTH guarantees proven against a batch oracle: a duplicate arriving
    * while the first arrival's state is retained is DROPPED, and a
    * duplicate arriving after the watermark expired that state is
    * EMITTED AGAIN (the unbounded-state escape hatch plain
    * `dropDuplicates` doesn't have — its state never expires).
    *
    * Engineered keys k = event_id % 60 over three staged micro-batches
    * (same hour-aligned time discipline as [[runLateDropOnce]],
    * including the filler batch that lets the lagged late-event
    * watermark catch up):
    *
    *  - batch 1 (event_id % 7 ≠ 0, k < 40): keys k < 20 at hour 0+10min
    *    ("old" first arrivals), keys 20..39 at hour 5+10min ("fresh"
    *    first arrivals). Committed watermark (1 h delay) = 4h10.
    *  - batch 2: one tick row (k = 1000) at 5h20.
    *  - batch 3 (event_id % 7 = 0, all k) at 5h40: re-arrivals of k < 20
    *    find their state EXPIRED (0h10 + 1h < watermark) → re-emitted;
    *    re-arrivals of 20..39 find state ALIVE (5h10 + 1h ahead of the
    *    watermark) → dropped; k ≥ 40 are new keys → emitted.
    *
    * Output collapses the sink to (k, n_emits): 2 for an expired-state
    * re-arrival, 1 everywhere else — the oracle spells the same rule in
    * set algebra over the events table. */
  def runDedupTtlOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val ev = graft.sources.Tables.read(spark, sfDir, "events")
    val baseNs = s"${LateBase}000000000"
    val hourNs = "3600000000000"
    val b1 = ev.filter(expr("event_id % 7 <> 0 and event_id % 60 < 40"))
      .selectExpr("event_id % 60 as k",
        s"""cast(case when event_id % 60 < 20 then $baseNs + 600000000000
           | else $baseNs + 5 * $hourNs + 600000000000 end as bigint) as ts"""
          .stripMargin.replace("\n", " "))
    val b2 = spark.sql(
      s"select cast(1000 as bigint) as k, " +
        s"cast($baseNs + 5 * $hourNs + 1200000000000 as bigint) as ts")
    val b3 = ev.filter(expr("event_id % 7 = 0"))
      .selectExpr("event_id % 60 as k",
        s"cast($baseNs + 5 * $hourNs + 2400000000000 as bigint) as ts")
    val src = graft.Scratch.path("graft_dedupttl_src_")
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = graft.Scratch.dir(s"graft_dedupttl_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = src.resolve(s"$name.parquet")
      Files.copy(Paths.get(part.getPath), dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
    }
    stage(b1, "a_batch1", 1000000L)
    stage(b2, "b_batch2", 2000000L)
    stage(b3, "c_batch3", 3000000L)
    val dedup = spark.readStream
      .schema("k BIGINT, ts BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_t", "1 hour")
      .dropDuplicatesWithinWatermark("k")
    val qName = "graft_dedupttl_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      // state-TTL is the heaviest-state pattern here (a row per key
      // until the watermark expires it) → RocksDB provider, asserted
      withRocksDb(spark) {
        val q = dedup.writeStream
          .outputMode("append").format("memory").queryName(qName)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        requireRocksDbEngaged(q)
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(qName).groupBy("k").agg(count(lit(1)).as("n_emits"))
  }

  /** DuckDB mirror of [[runDedupTtlOnce]]: the TTL rule in set algebra —
    * one emit per key present in batch 1, one more for a batch-3 key
    * whose batch-1 state expired (k < 20) or never existed. */
  def dedupTtlSql(table: String = "events"): String =
    s"""with b1 as (select distinct event_id % 60 as k from $table
       |  where event_id % 7 <> 0 and event_id % 60 < 40),
       |b3 as (select distinct event_id % 60 as k from $table
       |  where event_id % 7 = 0),
       |em as (
       | select k from b1
       | union all
       | select k from b3 where k < 20 or k not in (select k from b1)
       | union all select 1000 as k)
       |select k, cast(count(*) as bigint) as n_emits
       |from em group by k""".stripMargin.replace("\n", " ")

  // --------------------------------------------------------------------
  // Exactly-once foreachBatch MERGE sink with restart-and-replay proof
  // --------------------------------------------------------------------

  /** Exactly-once streaming upsert into a keyed warehouse table, with a
    * PLANTED mid-stream crash and restart — the end-to-end delivery
    * guarantee gate, not just state + emit.
    *
    * The sink is the classic idempotent foreachBatch MERGE: per batch,
    * the change micro-batch full-outer-merges into the current table
    * version, the new version is written, a version pointer swaps, and a
    * per-batchId transaction marker commits the side effect. Replayed
    * batches (same batchId) hit the marker and SKIP — that marker is the
    * idempotence that turns Structured Streaming's at-least-once batch
    * re-delivery into exactly-once table contents (the same protocol a
    * Delta/Iceberg MERGE runs with its txn log).
    *
    * The crash is injected AFTER the side effect commits but BEFORE
    * Spark's own batch commit (thrown at the end of foreachBatch for
    * batch 1, first run only): the restart re-delivers batch 1, the
    * guard skips it, and the run `require`s both that the crash happened
    * and that the replay was actually observed — without the guard the
    * re-applied deltas would double and the oracle hash would catch it.
    *
    * Balances live in exact 2^-20 BIGINT units, so merge order and batch
    * boundaries cannot perturb the result (integer adds are
    * association-free; one double division at the end) — the oracle is
    * the single-shot batch MERGE over the same change set. */
  def runUpsertOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val wh = graft.Scratch.path("graft_upsert_wh_")
    graft.sources.Tables.read(spark, sfDir, "customer")
      .selectExpr("c_custkey as key",
        "cast(floor(c_acctbal * 1048576e0 + 5e-1) as bigint) as units",
        "cast(1 as bigint) as origin", "cast(0 as bigint) as n_upd")
      .write.mode("overwrite").parquet(wh.resolve("v_init").toString)
    Files.writeString(wh.resolve("CURRENT"), "v_init")
    // the change stream: the q_upsert change set split into four files →
    // four micro-batches (maxFilesPerTrigger 1, mtimes pinned)
    val changes = graft.sources.Tables.read(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01"))
      .selectExpr("o_orderkey",
        "case when o_custkey % 10 = 0 then o_custkey + 10000000 " +
          "else o_custkey end as u_key",
        "cast(floor(o_totalprice * 1048576e0 + 5e-1) as bigint) as pu")
    val src = graft.Scratch.path("graft_upsert_src_")
    (0 until 4).foreach { i =>
      val tmp = graft.Scratch.dir(s"graft_upsert_f$i")
      changes.filter(expr(s"o_orderkey % 4 = $i")).select("u_key", "pu")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = src.resolve(s"f$i.parquet")
      Files.copy(Paths.get(part.getPath), dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000L * (i + 1)))
    }
    val ckpt = graft.Scratch.dir("graft_upsert_ckpt_")
    def mergeBatch(df: DataFrame, batchId: Long): Unit = {
      val applied = wh.resolve(s"_applied_$batchId")
      if (Files.exists(applied)) {
        // re-delivered batch after the crash: idempotent skip, recorded
        // so the gate can require the replay actually happened
        Files.deleteIfExists(wh.resolve(s"_replayed_$batchId"))
        Files.createFile(wh.resolve(s"_replayed_$batchId"))
      } else {
        val cur = spark.read.parquet(
          wh.resolve(Files.readString(wh.resolve("CURRENT"))).toString)
        val delta = df.groupBy("u_key")
          .agg(sum("pu").as("d_units"), count(lit(1)).as("d_n"))
        val next = cur.join(delta, cur("key") === delta("u_key"), "full_outer")
          .selectExpr("coalesce(key, u_key) as key",
            "coalesce(units, 0) + coalesce(d_units, 0) as units",
            "coalesce(origin, 0) as origin",
            "coalesce(n_upd, 0) + coalesce(d_n, 0) as n_upd")
        val vNext = s"v_$batchId"
        next.write.mode("overwrite").parquet(wh.resolve(vNext).toString)
        Files.writeString(wh.resolve("CURRENT"), vNext) // version swap
        Files.createFile(applied)                       // transaction marker
        val failMark = wh.resolve("_fail_injected")
        if (batchId == 1 && !Files.exists(failMark)) {
          Files.createFile(failMark)
          throw new RuntimeException("graft: injected post-commit crash")
        }
      }
    }
    def run(): Option[Throwable] = {
      val q = spark.readStream.schema("u_key BIGINT, pu BIGINT")
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(mergeBatch _)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(); None } catch { case e: Throwable => Some(e) }
    }
    val firstErr = run()
    require(firstErr.exists(e =>
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
        .exists(c => c.getMessage != null
          && c.getMessage.contains("injected post-commit crash"))),
      s"expected the planted mid-stream crash on the first run, got $firstErr")
    val secondErr = run() // restart: replays batch 1, finishes the rest
    require(secondErr.isEmpty, s"restarted run must complete: $secondErr")
    require(Files.exists(wh.resolve("_replayed_1")),
      "restart must re-deliver the crashed batch (idempotent-skip path untested)")
    spark.read.parquet(wh.resolve(Files.readString(wh.resolve("CURRENT"))).toString)
      .selectExpr("key", "cast(units as double) / 1048576e0 as bal",
        "case when origin = 0 then 'insert' " +
          "when n_upd = 0 then 'carry' else 'update' end as action")
  }

  /** 18th stateful pattern: STREAMING ANN INDEX INGESTION — the vector
    * corpus arrives as a stream and each micro-batch folds into the
    * STORED IVF-PQ index through [[graft.operators.Pq.appendIvfPqIndex]]
    * (shard-proportional encode + exact integer stats merge; the
    * already-indexed corpus is never rescanned). The index initializes
    * EMPTY (schema'd reads make an empty index directory a legal
    * relation), three pinned-mtime shard files drive three ordered
    * micro-batches (`maxFilesPerTrigger 1`), and the final index serves
    * through the stored-layout path. Because append is exact abelian
    * algebra, the streamed index equals a single-shot batch rebuild BIT
    * FOR BIT — the gate shares [[graft.operators.Pq.ivfAdcSql]]'s
    * whole-corpus oracle, which is the strongest statement a streaming
    * ingest can make: batch/stream parity on the served answer, not on
    * an aggregate summary. (Restart/replay idempotence is `stream_upsert`'s
    * contract; this gate proves the ingestion algebra composes with
    * micro-batching.) */
  def runAnnIngestOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val emb = graft.sources.Tables.read(spark, sfDir, "embeddings")
    val idx = graft.Scratch.dir("graft_ann_ingest_idx_")
    graft.operators.Pq.writeIvfPqIndex(emb.limit(0), idx)
    val src = graft.Scratch.path("graft_ann_ingest_src_")
    (0 until 3).foreach { i =>
      val tmp = graft.Scratch.dir(s"graft_ann_ingest_f$i")
      emb.filter(col("vec_id") % 3 === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = src.resolve(s"f$i.parquet")
      Files.copy(Paths.get(part.getPath), dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000L * (i + 1)))
    }
    val ckpt = graft.Scratch.dir("graft_ann_ingest_ckpt_")
    val q = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: DataFrame, _: Long) =>
        graft.operators.Pq.appendIvfPqIndex(df, idx))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.operators.Pq.ivfAdcTopKStored(emb, idx)
  }

  /** Streaming ANN index CRUD — [[runAnnIngestOnce]] extended with
    * interleaved DELETE micro-batches: a CDC-shaped feed where each file
    * carries an `op` column (`add`/`del`) and foreachBatch dispatches
    * adds through the exact append algebra and dels through the
    * idempotent tombstone path ([[graft.operators.Pq.deleteFromIvfPqIndex]]).
    * History staged (maxFilesPerTrigger=1 → five micro-batches):
    * add ⅓ → add ⅓ → delete the doomed slice of what's ingested so far
    * → add the last ⅓ → delete the doomed slice of that. The served
    * answer after this mixed history is bit-identical to a batch
    * rebuild of the survivors — the FIFTH physical history sharing
    * `ann_ivfpq_delete`'s oracle (after rebuild / append / delete /
    * compact), and the streaming proof that the index's CRUD verbs
    * compose under micro-batch delivery. Scale shape: per-batch work is
    * shard-proportional (append) or deleted-rows-proportional
    * (tombstone + model-sized stats downdate); nothing rescans the
    * indexed corpus. */
  def runAnnCrudOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val emb = graft.sources.Tables.read(spark, sfDir, "embeddings")
    val idx = graft.Scratch.dir("graft_ann_crud_idx_")
    graft.operators.Pq.writeIvfPqIndex(emb.limit(0), idx)
    val doomed = col("vec_id") % 5 === 3
    val batches: Seq[(String, DataFrame)] = Seq(
      "add" -> emb.filter(col("vec_id") % 3 === 0),
      "add" -> emb.filter(col("vec_id") % 3 === 1),
      "del" -> emb.filter(doomed && col("vec_id") % 3 =!= 2),
      "add" -> emb.filter(col("vec_id") % 3 === 2),
      "del" -> emb.filter(doomed && col("vec_id") % 3 === 2))
    val src = graft.Scratch.path("graft_ann_crud_src_")
    batches.zipWithIndex.foreach { case ((op, df), i) =>
      val tmp = graft.Scratch.dir(s"graft_ann_crud_f$i")
      df.withColumn("op", lit(op))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = src.resolve(s"f$i.parquet")
      Files.copy(Paths.get(part.getPath), dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000L * (i + 1)))
    }
    val ckpt = graft.Scratch.dir("graft_ann_crud_ckpt_")
    val schema = org.apache.spark.sql.types.StructType(
      emb.schema.fields :+ org.apache.spark.sql.types.StructField(
        "op", org.apache.spark.sql.types.StringType))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        // a mixed CDC batch applies adds before dels, so a same-batch
        // add+del nets to a tombstoned row (standard CDC ordering);
        // the staged history keeps each batch homogeneous, the handler
        // does not rely on it. One op-count aggregate gates both verbs
        // (r15): the former per-op isEmpty probes cost two jobs per
        // batch, and the absent op's probe scanned the whole batch to
        // find nothing.
        val ops = df.groupBy("op").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val adds = df.filter(col("op") === "add").drop("op")
        val dels = df.filter(col("op") === "del").drop("op")
        if (ops.getOrElse("add", 0L) > 0)
          graft.operators.Pq.appendIvfPqIndex(adds, idx)
        if (ops.getOrElse("del", 0L) > 0)
          graft.operators.Pq.deleteFromIvfPqIndex(dels, idx)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.operators.Pq.ivfAdcTopKStored(emb.filter(!doomed), idx)
  }

  /** Streaming NEAR-DUP index CRUD — the CDC loop on the standing
    * near-dup index ([[graft.operators.NearDupIndex]]), completing the
    * stored-index streaming symmetry (ANN / sparse / near-dup): a seed
    * BUILD over the first third of the history corpus (freezing the df
    * stop cut there — the production shape: seed from a representative
    * corpus so the stop set is meaningful), then four streamed
    * micro-batches (add ⅓ → delete the doomed ids so far → add ⅓ →
    * delete the rest) fold in via `foreachBatch` — whose CLONED session
    * is exactly the r11 cross-session staleness shape the refresh
    * discipline guards — and the OUTER session serves verdicts for the
    * never-indexed shard. The serve hash-matches ONE declarative DuckDB
    * relation (`NearDupIndex.serveSql` with the seed-corpus stop cut and
    * the deleted ids excluded from history). Per-batch cost is
    * shard-proportional (winnow + two segment appends or an O(deleted)
    * tombstone write); the indexed corpus is never rescanned. */
  def runNearDupCrudOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val docs = graft.sources.Tables.read(spark, sfDir, "documents")
    val idx = graft.Scratch.dir("graft_ndidx_crud_idx_")
    val hist = col("doc_id") % 5 < 4
    graft.operators.NearDupIndex.writeNearDupIndex(
      docs.filter(hist && col("doc_id") % 3 === 0), idx)
    val doomed = col("doc_id") % 10 === 1
    val batches: Seq[(String, DataFrame)] = Seq(
      "add" -> docs.filter(hist && col("doc_id") % 3 === 1),
      "del" -> docs.filter(doomed && col("doc_id") % 3 =!= 2),
      "add" -> docs.filter(hist && col("doc_id") % 3 === 2),
      "del" -> docs.filter(doomed && col("doc_id") % 3 === 2))
    val src = graft.Scratch.path("graft_ndidx_crud_src_")
    batches.zipWithIndex.foreach { case ((op, df), i) =>
      val tmp = graft.Scratch.dir(s"graft_ndidx_crud_f$i")
      df.withColumn("op", lit(op))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = src.resolve(s"f$i.parquet")
      Files.copy(Paths.get(part.getPath), dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000L * (i + 1)))
    }
    val ckpt = graft.Scratch.dir("graft_ndidx_crud_ckpt_")
    val schema = org.apache.spark.sql.types.StructType(
      docs.schema.fields :+ org.apache.spark.sql.types.StructField(
        "op", org.apache.spark.sql.types.StringType))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val s = df.sparkSession
        // one op-count aggregate gates both verbs (r15; see
        // runAnnCrudOnce — the absent op's isEmpty probe scanned the
        // whole batch)
        val ops = df.groupBy("op").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val adds = df.filter(col("op") === "add").drop("op")
        val dels = df.filter(col("op") === "del").drop("op")
        // Replay contract (advice r13): foreachBatch is at-least-once —
        // after checkpoint recovery the last committed micro-batch can
        // replay, and append's live-id guard then fails LOUDLY (by
        // design: silent re-append would double the doc's rows past
        // delete/compact). A recovering caller that wants idempotent
        // replay must anti-join indexedIds(s, idx) off the adds first;
        // this gate runs AvailableNow on a fresh checkpoint every time,
        // so a replayed batch here is a bug worth the loud stop.
        if (ops.getOrElse("add", 0L) > 0)
          graft.operators.NearDupIndex.appendNearDupIndex(adds, idx)
        if (ops.getOrElse("del", 0L) > 0) {
          // only indexed ids may be tombstoned: a doomed doc with no
          // kept fps (short / all-boilerplate text — the edge dataset
          // has them) never entered the index universe
          val eff = dels.select("doc_id")
            .join(graft.operators.NearDupIndex.indexedIds(s, idx),
              Seq("doc_id"), "left_semi")
          if (!eff.isEmpty)
            graft.operators.NearDupIndex.deleteFromNearDupIndex(eff, idx)
        }
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.operators.NearDupIndex.serveNearDup(spark, idx,
      docs.filter(col("doc_id") % 5 >= 4))
  }

  /** Streaming SPARSE index CRUD — [[runAnnCrudOnce]]'s twin on the
    * posting index ([[graft.operators.SparseIndex]]): the same CDC-shaped
    * five-batch history (add ⅓ → add ⅓ → delete the doomed slice so far
    * → add the last ⅓ → delete its doomed slice) folds into the stored
    * token-bucketed index via the exact df-moment algebra (adds) and the
    * idempotent doc-tombstone path (dels). The served TF-IDF retrieval
    * after the mixed history is bit-identical to a survivors-only batch
    * rebuild — shares `sparse_delete`'s oracle. Per-batch cost is
    * shard-proportional tokenize + a vocabulary-sized moment merge;
    * the indexed corpus is never rescanned. */
  def runSparseCrudOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val docs = graft.sources.Tables.read(spark, sfDir, "documents")
    val idx = graft.Scratch.dir("graft_sparse_crud_idx_")
    graft.operators.SparseIndex.writeSparseIndex(docs.limit(0), idx)
    val doomed = col("doc_id") % 5 === 3
    val batches: Seq[(String, DataFrame)] = Seq(
      "add" -> docs.filter(col("doc_id") % 3 === 0),
      "add" -> docs.filter(col("doc_id") % 3 === 1),
      "del" -> docs.filter(doomed && col("doc_id") % 3 =!= 2),
      "add" -> docs.filter(col("doc_id") % 3 === 2),
      "del" -> docs.filter(doomed && col("doc_id") % 3 === 2))
    val src = graft.Scratch.path("graft_sparse_crud_src_")
    batches.zipWithIndex.foreach { case ((op, df), i) =>
      val tmp = graft.Scratch.dir(s"graft_sparse_crud_f$i")
      df.withColumn("op", lit(op))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = src.resolve(s"f$i.parquet")
      Files.copy(Paths.get(part.getPath), dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000L * (i + 1)))
    }
    val ckpt = graft.Scratch.dir("graft_sparse_crud_ckpt_")
    val schema = org.apache.spark.sql.types.StructType(
      docs.schema.fields :+ org.apache.spark.sql.types.StructField(
        "op", org.apache.spark.sql.types.StringType))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        // one op-count aggregate gates both verbs (r15; see
        // runAnnCrudOnce)
        val ops = df.groupBy("op").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val adds = df.filter(col("op") === "add").drop("op")
        val dels = df.filter(col("op") === "del").drop("op")
        if (ops.getOrElse("add", 0L) > 0)
          graft.operators.SparseIndex.appendSparseIndex(adds, idx)
        if (ops.getOrElse("del", 0L) > 0)
          graft.operators.SparseIndex.deleteFromSparseIndex(dels, idx)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.operators.SparseIndex.sparseRetrievalStored(spark, idx)
  }

  /** DuckDB mirror of [[runUpsertOnce]]: the single-shot batch MERGE
    * over the same change set — equality proves the restarted, replayed,
    * four-batch streaming MERGE delivered each change exactly once. */
  def upsertSql(): String =
    s"""with ch as (select
       |  case when o_custkey % 10 = 0 then o_custkey + 10000000
       |   else o_custkey end as u_key,
       |  cast(floor(o_totalprice * 1048576e0 + 5e-1) as bigint) as pu
       | from orders where o_orderdate >= timestamp '1998-01-01'),
       |agg as (select u_key, cast(sum(pu) as bigint) as units,
       |  cast(count(*) as bigint) as n_upd from ch group by 1),
       |base as (select c_custkey as key,
       |  cast(floor(c_acctbal * 1048576e0 + 5e-1) as bigint) as units
       | from customer)
       |select coalesce(base.key, agg.u_key) as key,
       | cast(coalesce(base.units, 0) + coalesce(agg.units, 0) as double)
       |  / 1048576e0 as bal,
       | case when base.key is null then 'insert'
       |  when agg.u_key is null then 'carry' else 'update' end as action
       |from base full outer join agg on base.key = agg.u_key"""
      .stripMargin.replace("\n", " ")

  /** DuckDB mirror of [[runLateDropOnce]]: the batch aggregate over the
    * watermark-ADMITTED set — beyond-watermark rows map to NULL and drop,
    * the future row's unemitted window is excluded. Times in micros. */
  def lateDropSql(table: String = "events"): String = {
    val baseUs = s"${LateBase}000000"
    s"""with m as (
       | select case when event_id % 11 <> 0
       |   then $baseUs + (event_id % 48) * 3600000000 + 600000000
       |  when event_id % 33 <> 0
       |   then $baseUs + 46 * 3600000000 + 2400000000
       |  else null end as tsm,
       |  event_type, value
       | from $table
       | union all
       | select $baseUs + 47 * 3600000000 + 600000000 as tsm,
       |  'tick' as event_type, 0e0 as value)
       |select (tsm // 3600000000) * 3600 as hour_epoch, event_type,
       | cast(count(*) as bigint) as n, ${Parity.fpSum("value")} as v
       |from m where tsm is not null
       |group by 1, 2""".stripMargin.replace("\n", " ")
  }

  /** Stream-static join: the event stream enriched against the (small,
    * broadcast) customer dimension, aggregated per market segment — the
    * canonical streaming-enrichment shape (dimension broadcast to every
    * task; no stream-side shuffle before the aggregate). Oracle = the
    * identical batch join SQL. */
  def joinSegments(stream: DataFrame, customers: DataFrame): DataFrame =
    stream.join(broadcast(customers), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), expr(Parity.fpSum("value")).as("v"))

  /** One-shot driver for [[joinSegments]] over the static events parquet. */
  def runJoinOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val customers = graft.sources.Tables.read(spark, sfDir, "customer")
      .select("c_custkey", "c_mktsegment")
    runAvailableNow(spark, sfDir, "sjoin", "complete", joinSegments(_, customers))
  }

  /** Stream-stream interval join: purchases joined to the same user's
    * clicks from the preceding two hours — the canonical event-time
    * range-join of Structured Streaming. Both sides carry watermarks and
    * the join condition bounds event time, so state is evictable (Spark
    * derives the state horizon from the watermark + interval); in append
    * mode each qualifying pair emits exactly once. Comparisons run at
    * micro precision (timestamps ARE micros in Spark) and the oracle
    * spells the identical micro arithmetic. */
  def intervalJoin(stream: DataFrame): DataFrame = {
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
        timestamp_micros(expr("ts div 1000")).as("c_t"))
      .withWatermark("c_t", "3 hours")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        timestamp_micros(expr("ts div 1000")).as("p_t"))
      .withWatermark("p_t", "3 hours")
    purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("p_t") >= col("c_t") &&
          col("p_t") <= col("c_t") + expr("interval 2 hours"))
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"),
        expr("(unix_micros(p_t) - unix_micros(c_t)) div 1000000").as("gap_sec"))
  }

  /** One-shot driver for [[intervalJoin]] (four state stores per shuffle
    * partition — the sizing in [[runAvailableNow]] matters most here;
    * join state is the heaviest streaming state there is, so this gate
    * runs on the RocksDB provider with engagement asserted). */
  def runIntervalOnce(spark: SparkSession, sfDir: String): DataFrame =
    runAvailableNow(spark, sfDir, "ivj", "append", intervalJoin, rocksDb = true)

  // ---- stateful sessionization ----------------------------------------

  case class Ev(user_id: Long, ts: Long)
  case class SessState(sessionId: Long, nEvents: Long, start: Long, end: Long)
  case class SessOut(user_id: Long, session_id: Long, n_events: Long,
                     start_ns: Long, end_ns: Long)

  /** Custom streaming state via flatMapGroupsWithState: per-user open
    * session kept in the state store; a session CLOSES (and is emitted)
    * when a later event arrives past the inactivity gap. Mirrors the
    * batch [[graft.operators.EventOps.sessionize]] lag+cumsum plan —
    * closed sessions match it exactly (the still-open tail session stays
    * in state). */
  def sessionizeStream(stream: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    // Same granularity as the batch plan (EventOps.sessionize compares
    // floored epoch SECONDS, not raw nanos): a gap in (gapSec, gapSec+1)
    // seconds must make the same open/close decision in both paths.
    val gapSec = gapMinutes * 60L
    def sec(ns: Long): Long = ns / 1000000000L
    def fn(key: Long, events: Iterator[Ev], state: GroupState[SessState]): Iterator[SessOut] = {
      val sorted = events.toSeq.sortBy(_.ts)
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
      sorted.foreach { e =>
        cur match {
          case Some(s) if sec(e.ts) - sec(s.end) > gapSec =>
            out += SessOut(key, s.sessionId, s.nEvents, s.start, s.end)
            cur = Some(SessState(s.sessionId + 1, 1L, e.ts, e.ts))
          case Some(s) =>
            cur = Some(s.copy(nEvents = s.nEvents + 1, end = e.ts))
          case None =>
            cur = Some(SessState(1L, 1L, e.ts, e.ts))
        }
      }
      cur.foreach(state.update)
      out.iterator
    }
    stream.select(col("user_id"), col("ts")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** One-shot driver for [[sessionizeStream]]: emits the CLOSED sessions
    * (the open tail stays in state), which equal the batch sessionization
    * minus each user's last session — that complement IS the DuckDB
    * oracle, making the stateful streaming path fully hash-checked. */
  def runSessionsOnce(spark: SparkSession, sfDir: String): DataFrame =
    runAvailableNow(spark, sfDir, "sess", "append", sessionizeStream(_),
        rocksDb = true)
      .select(col("user_id"), col("session_id"), col("n_events"),
        expr("start_ns div 1000").as("start_us"),
        expr("end_ns div 1000").as("end_us"))

  /** Drives the hourly aggregate synchronously over the static events
    * parquet — used by Verify/Bench. */
  def runOnce(spark: SparkSession, sfDir: String): DataFrame =
    runAvailableNow(spark, sfDir, "stream", "complete", hourlyAgg)

  // ---- streaming SCD Type-2 maintenance ---------------------------------

  case class ScdEv(user_id: Long, ts: Long, event_id: Long, value: Double)
  case class ScdState(version: Long, tier: Long, from: Long)
  case class ScdOut(user_id: Long, version: Long, tier: Long,
                    valid_from: Long, valid_to: Long)

  /** Streaming SCD2 (13th pattern) — the CDC-consumer twin of the batch
    * [[graft.operators.EventOps.scd2]]: per-key state holds only the OPEN
    * version (version number, tier, valid_from — three scalars, bounded
    * by key count, never history); each arriving update either extends
    * the open version (same tier) or closes it, emitting the finished
    * validity interval, and opens the next. This is how a warehouse
    * maintains a type-2 dimension from a change stream without
    * re-reading history. Closed versions equal the batch SCD2 rows with
    * `valid_to IS NOT NULL` (each key's open tail stays in state) — that
    * complement is the DuckDB oracle, [[sessionizeStream]]'s contract. */
  def scd2Stream(stream: DataFrame, eventType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    def fn(key: Long, events: Iterator[ScdEv],
           state: GroupState[ScdState]): Iterator[ScdOut] = {
      val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[ScdOut]
      sorted.foreach { e =>
        val tier = math.floor(e.value / 20.0).toLong
        cur match {
          case Some(s) if s.tier == tier => // same attribute: version extends
          case Some(s) =>
            out += ScdOut(key, s.version, s.tier, s.from, e.ts)
            cur = Some(ScdState(s.version + 1, tier, e.ts))
          case None =>
            cur = Some(ScdState(1L, tier, e.ts))
        }
      }
      cur.foreach(state.update)
      out.iterator
    }
    stream.filter(col("event_type") === eventType)
      .select(col("user_id"), col("ts"), col("event_id"), col("value")).as[ScdEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** One-shot driver for [[scd2Stream]]: emits the CLOSED versions.
    * Holds one open version per key forever (unbounded key universe) →
    * RocksDB provider, engagement asserted. */
  def runScd2Once(spark: SparkSession, sfDir: String): DataFrame =
    runAvailableNow(spark, sfDir, "scd2", "append", scd2Stream(_), rocksDb = true)

  // ---- streaming Markov transition counting -----------------------------

  case class TrEv(user_id: Long, ts: Long, event_id: Long, event_type: String)
  case class TrState(last: String)
  case class TrOut(from_type: String, to_type: String)

  /** Streaming transition extraction (15th pattern): per-user state is
    * ONE string — the last event type — and each arriving event emits
    * its (from, to) pair and replaces it; the sessionized feature-
    * extraction shape with the smallest possible state. The pair stream
    * aggregates into the transition matrix in a tiny batch post-pass
    * (the [[runTrendingOnce]] topology); oracle = the batch
    * [[graft.operators.EventOps.transitions]] lag-window spelling, so
    * the stateful per-user walk is proven equal to the window plan. */
  def transitionStream(stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    def fn(key: Long, events: Iterator[TrEv],
           state: GroupState[TrState]): Iterator[TrOut] = {
      val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
      var last = state.getOption.map(_.last)
      val out = scala.collection.mutable.ArrayBuffer.empty[TrOut]
      sorted.foreach { e =>
        last.foreach(l => out += TrOut(l, e.event_type))
        last = Some(e.event_type)
      }
      last.foreach(l => state.update(TrState(l)))
      out.iterator
    }
    stream.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[TrEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** One-shot driver for [[transitionStream]] + the probability
    * post-pass. */
  def runTransitionsOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = runAvailableNow(spark, sfDir, "trans", "append", transitionStream(_))
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    pairs
      .withColumn("out_total", sum("n").over(Window.partitionBy("from_type")))
      .withColumn("p", col("n").cast("double") / col("out_total").cast("double"))
      .select("from_type", "to_type", "n", "p")
  }

  /** Trending top-`k` (12th pattern): per-hour top event types by count.
    * Rank-over-stream is not directly expressible in Structured
    * Streaming (non-time windows are unsupported on streaming frames),
    * and the scale-correct topology doesn't want it to be: the STREAM
    * maintains the incremental (hour, type) count state — corpus-sized
    * input, aggregate-sized state — and the top-k selection is a tiny
    * batch window over the emitted aggregate (hours × types rows). This
    * is the standard dashboard/trending architecture: heavy streaming
    * pre-aggregation, cheap relational post-pass on the sink table.
    * Deterministic: integer counts, ties broken by event_type. */
  def runTrendingOnce(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = runAvailableNow(spark, sfDir, "trend", "complete", hourlyAgg)
    val w = Window.partitionBy("hour_epoch")
      .orderBy(col("n").desc, col("event_type").asc)
    hourly.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("hour_epoch", "event_type", "n", "rk")
  }

  // ---- stateful trailing-window anomaly scoring ------------------------

  case class AnEv(user_id: Long, event_id: Long, ts: Long, value: Double)
  case class AnState(tss: Seq[Long], vfps: Seq[Long])
  case class AnOut(event_id: Long, user_id: Long, n_prior: Long,
                   z: Option[Double])

  /** Streaming twin of the batch `q_anomaly` query: each event z-scored
    * against the SAME user's prior hour, with the trailing window kept as
    * custom per-user state (flatMapGroupsWithState). The state is the
    * fixed-point event buffer of the last hour only — pruned to
    * max(ts)−1h after every batch, so state size is bounded by each
    * user's event rate, never their history.
    *
    * Bit parity with the batch plan: the buffer holds the SAME
    * floor(value·2^10) integers the batch window sums, the frame is the
    * same [cur−1h, cur−1ns] interval (ties at the current timestamp
    * excluded on both paths), and z is computed with the identical
    * IEEE operation order — so stream output hash-matches the batch
    * oracle exactly. Like [[sessionizeStream]], exact equality is the
    * in-order-delivery differential contract (one AvailableNow batch
    * here); a production deploy pairs this with a watermark. */
  def anomalyStream(stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val hourNs = 3600L * 1000000000L
    def fn(key: Long, events: Iterator[AnEv], state: GroupState[AnState]): Iterator[AnOut] = {
      val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
      var buf = state.getOption
        .map(s => s.tss.zip(s.vfps).toVector).getOrElse(Vector.empty)
      val out = scala.collection.mutable.ArrayBuffer.empty[AnOut]
      sorted.foreach { e =>
        val lo = e.ts - hourNs
        buf = buf.dropWhile(_._1 < lo)
        val frame = buf.filter(_._1 < e.ts)
        val n = frame.size
        val z: Option[Double] = if (n >= 2) {
          var s1 = 0L; var s2 = 0L
          frame.foreach { p => s1 += p._2; s2 += p._2 * p._2 }
          val mean = (s1.toDouble / 1024.0) / n.toDouble
          val ex2 = (s2.toDouble / 1048576.0) / n.toDouble
          val v = ex2 - mean * mean
          if (v > 0) Some((e.value - mean) / math.sqrt(v)) else None
        } else None
        out += AnOut(e.event_id, key, n.toLong, z)
        buf = buf :+ ((e.ts, math.floor(e.value * 1024.0 + 0.5).toLong))
      }
      if (buf.nonEmpty) {
        val keepLo = buf.last._1 - hourNs
        val kept = buf.dropWhile(_._1 < keepLo)
        state.update(AnState(kept.map(_._1), kept.map(_._2)))
      }
      out.iterator
    }
    stream.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[AnEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** One-shot driver for [[anomalyStream]] — shares the batch q_anomaly
    * oracle (full stream/batch differential: every row, bit-exact). */
  def runAnomalyOnce(spark: SparkSession, sfDir: String): DataFrame =
    runAvailableNow(spark, sfDir, "anom", "append", anomalyStream)
      .select(col("event_id"), col("user_id"), col("n_prior"), col("z"))

  /** Fixed-bin expression shared with the batch oracle: [0,512) in 16
    * equi-width bins = an exact power-of-two division (floor(v/32),
    * clamped), so bin assignment is bit-deterministic in both engines.
    * Fixed bounds are the streaming contract — a stream has no two-pass
    * min/max; out-of-range values clamp into the edge bins. */
  val histBinExpr: String =
    "greatest(0, least(15, cast(floor(value / 32e0) as bigint)))"

  /** Streaming windowed value histogram — the distribution-drift monitor
    * every training-data ingest runs: per tumbling hour, event counts per
    * fixed value bin. State is bounded by hours×bins regardless of
    * stream volume. Batch oracle = the identical aggregate. */
  def histogramAgg(stream: DataFrame): DataFrame =
    stream
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_t", "1 hour")
      .groupBy(window(col("ts_t"), "1 hour").as("w"),
        expr(histBinExpr).as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(expr("unix_micros(w.start) div 1000000").as("hour_epoch"),
        col("bin"), col("n"))

  def runHistogramOnce(spark: SparkSession, sfDir: String): DataFrame =
    runAvailableNow(spark, sfDir, "hist", "complete", histogramAgg)

  /** Drift monitor with a STATISTIC (14th pattern): per-hour KS distance
    * of the hour's binned value distribution against the whole stream's
    * reference distribution — the alerting layer on top of the raw
    * [[histogramAgg]] counts (a dashboard plots histograms; an alert
    * needs one number per window). Topology is the [[runTrendingOnce]]
    * split: the STREAM maintains the (hour, bin) count state (bounded by
    * hours×bins), and the ECDF/KS arithmetic is a tiny batch post-pass
    * over the emitted aggregate. D is exact integer-ratio arithmetic —
    * deterministic with no quantization; the reference here is the
    * stream's own totals (self-drift), the production variant broadcasts
    * a frozen training-time histogram. */
  def runDriftOnce(spark: SparkSession, sfDir: String): DataFrame =
    driftFromHist(runAvailableNow(spark, sfDir, "drift", "complete", histogramAgg))

  /** The batch post-pass of [[runDriftOnce]] over an emitted
    * (hour_epoch, bin, n) histogram — separable so the ECDF/KS math is
    * unit-testable on planted histograms. */
  private[graft] def driftFromHist(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wH = Window.partitionBy("hour_epoch").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wG = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // densify: every (hour, bin) cell so cum fractions align across hours
    val hours = hist.select(col("hour_epoch").as("he")).distinct()
    val bins = hist.select(col("bin").as("bb")).distinct()
    // bins is histogram-bounded (distinct bin ids, dozens of rows):
    // broadcast it so the densify fan-out never plans a cartesian exchange
    val dense = hours.crossJoin(broadcast(bins))
      .join(hist, col("he") === col("hour_epoch") && col("bb") === col("bin"),
        "left")
      .select(col("he").as("hour_epoch"), col("bb").as("bin"),
        coalesce(col("n"), lit(0L)).as("n"))
    val glob = dense.groupBy("bin").agg(sum("n").as("gn"))
      .withColumn("gcum", sum("gn").over(wG))
    val gtot = glob.agg(max("gcum").as("gt"))
    dense
      .withColumn("hcum", sum("n").over(wH))
      .withColumn("htot", sum("n").over(Window.partitionBy("hour_epoch")))
      .join(broadcast(glob.select("bin", "gcum")), "bin")
      .crossJoin(broadcast(gtot))
      .withColumn("gap", expr(
        "abs(cast(hcum as double) / cast(htot as double) - " +
          "cast(gcum as double) / cast(gt as double))"))
      .groupBy("hour_epoch")
      .agg(max(col("htot")).as("n_events"), max("gap").as("d"))
  }

  case class EwEv(user_id: Long, event_id: Long, ts: Long, value: Double)
  case class EwState(vfps: Seq[Long])
  case class EwOut(user_id: Long, event_id: Long, us: Long, ewma: Double)

  /** Streaming twin of the batch `q_ewma` query: per-user EWMA (decay
    * 1/2) over the last 8 events, kept as custom state. The state is
    * exactly the last 7 fixed-point values per user — bounded by the
    * key cardinality times a constant, the smallest state of any of the
    * stateful patterns here.
    *
    * Bit parity with the batch window plan: the buffer holds the SAME
    * floor(value·2^20+0.5) integers the batch lags read, events are
    * processed in the batch's (µs, event_id) order, and the
    * numerator/denominator are the same exact BIGSums divided in the
    * identical IEEE order — so the stream output hash-matches the batch
    * oracle row for row. In-order-delivery contract as
    * [[anomalyStream]], at µs RESOLUTION: events must arrive across
    * micro-batches in (ts div 1000, event_id) order — a µs-tied pair
    * split across batches in raw-ns order could reach the buffer
    * reversed relative to the batch window (the specs split on the µs
    * key for exactly this reason); a production deploy pairs this with
    * a watermark-bounded reorder buffer. */
  def ewmaStream(stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    def fn(key: Long, events: Iterator[EwEv], state: GroupState[EwState]): Iterator[EwOut] = {
      // batch ordering is (tsu = ts div 1000, event_id) — sort at µs
      // resolution, NOT ns, so µs ties break by event_id as the window
      // spec does
      val sorted = events.toSeq.sortBy(e => (e.ts / 1000L, e.event_id))
      var buf = state.getOption.map(_.vfps.toVector).getOrElse(Vector.empty)
      val out = sorted.map { e =>
        val vfp = math.floor(e.value * 1048576.0 + 0.5).toLong
        // lag k → weight 2^(7-k): current 128, most recent prior 64, …
        var num = vfp * 128L
        var den = 128L
        var k = 1
        while (k <= 7 && k <= buf.size) {
          val w = 1L << (7 - k)
          num += buf(buf.size - k) * w
          den += w
          k += 1
        }
        buf = (buf :+ vfp).takeRight(7)
        EwOut(key, e.event_id, e.ts / 1000L, num.toDouble / den.toDouble / 1048576.0)
      }
      state.update(EwState(buf))
      out.iterator
    }
    stream.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[EwEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** One-shot driver for [[ewmaStream]] — shares the batch q_ewma
    * oracle. */
  def runEwmaOnce(spark: SparkSession, sfDir: String): DataFrame =
    runAvailableNow(spark, sfDir, "ewma", "append", ewmaStream)
      .select(col("user_id"), col("event_id"), col("us"), col("ewma"))

  case class TwEv(user_id: Long, event_id: Long, ts: Long, value: Double)
  case class TwState(lastTsu: Long, lastVfp: Long, n: Long, heldMs: Long, vw: Long)
  case class TwOut(user_id: Long, hour: Long, n_events: Long, held_ms: Long,
                   twap: Option[Double])

  /** Streaming twin of the batch `q_twap` query: per-user-hour
    * time-weighted average, maintained as custom state. Each reading
    * holds until the next same-user event, clamped to its own hour
    * boundary — so an event's contribution is finalized the moment its
    * successor arrives, and an HOUR is complete (and emitted) exactly
    * when the first event of a LATER hour arrives. The open tail (the
    * hour of each user's last event) stays in state, so the oracle is
    * the batch TWAP restricted to complete hours (max event µs ≥ hour
    * end) — the open-session discipline of `stream_sessions`.
    *
    * Bit parity: the state holds the SAME µs timestamps and
    * floor(value·2^20) integers the batch lead-window arithmetic uses;
    * held_ms/vw accumulate as exact longs and the final division runs in
    * the identical IEEE order. State per user is one pending reading +
    * three accumulators. In-order contract at µs resolution, as
    * [[ewmaStream]]. */
  def twapStream(stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val hourUs = 3600000000L
    def fn(key: Long, events: Iterator[TwEv], state: GroupState[TwState]): Iterator[TwOut] = {
      val sorted = events.toSeq.sortBy(e => (e.ts / 1000L, e.event_id))
      var st = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[TwOut]
      sorted.foreach { e =>
        val tsu = e.ts / 1000L
        val vfp = math.floor(e.value * 1048576.0 + 0.5).toLong
        st match {
          case None =>
            st = Some(TwState(tsu, vfp, 0L, 0L, 0L))
          case Some(s0) =>
            val prevHour = s0.lastTsu / hourUs
            val hourEnd = (prevHour + 1L) * hourUs
            val dtMs = (math.min(tsu, hourEnd) - s0.lastTsu) / 1000L
            var n = s0.n + 1L
            var held = s0.heldMs + dtMs
            var vw = s0.vw + s0.lastVfp * dtMs
            if (tsu / hourUs > prevHour) {
              out += TwOut(key, prevHour, n, held,
                if (held == 0L) None else Some((vw / 1048576.0) / held.toDouble))
              n = 0L; held = 0L; vw = 0L
            }
            st = Some(TwState(tsu, vfp, n, held, vw))
        }
      }
      st.foreach(state.update)
      out.iterator
    }
    stream.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[TwEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** One-shot driver for [[twapStream]]. */
  def runTwapOnce(spark: SparkSession, sfDir: String): DataFrame =
    runAvailableNow(spark, sfDir, "twap", "append", twapStream)
      .select(col("user_id"), col("hour"), col("n_events"), col("held_ms"), col("twap"))

  /** Streaming CDC compaction — the continuously-maintained
    * latest-row-per-key materialized view (the batch `q_latest`
    * WindowGroupLimit, kept incrementally): a complete-mode `max_by`
    * aggregate whose state is exactly one row per key, updated as events
    * arrive. (ts, event_id) is a unique ordering key, so the winner —
    * and therefore the whole view — is deterministic and shares
    * `q_latest`'s oracle. State is bounded by the key cardinality, the
    * same bound the batch window's final exchange pays. */
  def latestRow(stream: DataFrame): DataFrame =
    stream
      .groupBy("user_id")
      .agg(max_by(
        struct(col("event_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("value")),
        struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("last_event_id"),
        col("m.event_type").as("event_type"), col("m.us").as("us"),
        col("m.value").as("value"))

  def runLatestOnce(spark: SparkSession, sfDir: String): DataFrame =
    runAvailableNow(spark, sfDir, "latest", "complete", latestRow)

  // ---- stateful mergeable sketch (HyperLogLog) -------------------------

  case class HllEv(event_type: String, reg: Int, rho: Int)
  case class HllSt(regs: Array[Byte], nObs: Long)
  case class HllOut(event_type: String, n_obs: Long, v_zero: Long, hll_est: Double)

  /** Streaming HLL distinct-users per event_type — MERGEABLE SKETCH
    * STATE in the state store: the per-key state is the fixed
    * [[graft.operators.Hll.m]]-byte register array (constant no matter
    * the stream length), each micro-batch folds its events in by
    * register-wise max (HLL insertion is idempotent and commutative, so
    * arrival order and batch boundaries cannot change the registers —
    * the property that makes the batch relational build the exact
    * oracle), and every batch emits a snapshot estimate computed with
    * the SAME literals/fold/q9-grid as the SQL spelling
    * ([[graft.operators.Hll.estimate]]). The per-event register/rho
    * projection runs BEFORE the shuffle as codegen'd scalar text shared
    * with the oracle. */
  def hllStream(stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val rh = "rolling_hash(cast(user_id as string))"
    val prep = stream.selectExpr("event_type",
      s"cast(${graft.operators.Hll.regSql(rh)} as int) as reg",
      s"cast(${graft.operators.Hll.rhoSql(rh)} as int) as rho").as[HllEv]
    def fn(key: String, rows: Iterator[HllEv], state: GroupState[HllSt]): Iterator[HllOut] = {
      val st = state.getOption.map(_.regs.clone())
        .getOrElse(Array.fill(graft.operators.Hll.m)(0: Byte))
      var n = state.getOption.map(_.nObs).getOrElse(0L)
      rows.foreach { e =>
        n += 1
        if (e.rho > st(e.reg)) st(e.reg) = e.rho.toByte
      }
      state.update(HllSt(st, n))
      val (vz, est) = graft.operators.Hll.estimate(st)
      Iterator(HllOut(key, n, vz, est))
    }
    prep.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** One-shot driver for [[hllStream]]: per-batch snapshots accumulate
    * in the sink; the FINAL snapshot per key (n_obs strictly grows with
    * every batch that touches the key) is the one the batch oracle
    * predicts. */
  def runHllOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = runAvailableNow(spark, sfDir, "hll", "append", hllStream)
    val w = Window.partitionBy("event_type").orderBy(col("n_obs").desc)
    all.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("event_type", "n_obs", "v_zero", "hll_est")
  }
}
