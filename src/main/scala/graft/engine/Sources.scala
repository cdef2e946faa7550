package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graded surfaces for the non-parquet batch loaders (Tables.readCsv /
  * readJsonLines): write a fixture slice out in the text format, read it
  * back with an explicit schema, and aggregate the re-read frame. The
  * oracle computes the SAME aggregate from the parquet fixture — so the
  * keys grade the loaders' fidelity end to end: any loss in the text
  * round trip (timestamp precision, double formatting, quoting, nulls)
  * breaks the hash match. SourceFormatsSpec additionally pins row-exact
  * round trips.
  *
  * Scale notes (100 TB): the loaders are plain distributed scans —
  * explicit schemas mean no inference pre-pass over the data; CSV/JSON
  * are splittable by line, so a large file still fans out across tasks.
  * (Columnar pushdown does NOT exist for text formats — the scan reads
  * every byte; these loaders are the ingest edge, parquet is the at-rest
  * format.)
  */
object Sources {
  type Q = (SparkSession, String) => DataFrame

  private[graft] def eventsSlice(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select("event_id", "user_id", "event_type", "ts", "value")

  private[graft] def aggregate(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"),
        Relational.sumValue2(col("value")).as("sum_value"),
        max(col("ts")).as("max_ts"))
      .orderBy("event_type")

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Write → read-back → aggregate → eager localCheckpoint (the aggregate
    * is O(event types) rows), then DELETE the round-trip directory — the
    * returned frame no longer references the temp files, so repeated
    * grading/bench runs leave no `graft_src_*` residue. NOTE (bench
    * interpretation): these keys deliberately time the FULL round trip
    * (text write + scan + aggregate), not just a read.
    */
  private def roundTrip(s: SparkSession, d: String, prefix: String,
      write: (DataFrame, String) => Unit,
      read: (String, org.apache.spark.sql.types.StructType) => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try {
      val ev = eventsSlice(s, d)
      write(ev, dir)
      aggregate(read(dir, ev.schema)).localCheckpoint()
    } finally deleteRecursively(new java.io.File(dir))
  }

  /** CSV round trip: events → CSV (header, micro timestamps) → explicit
    * schema read-back → aggregate. Oracle: identical aggregate over the
    * parquet fixture.
    */
  val qSourceCsv: Q = (s, d) =>
    roundTrip(s, d, "graft_src_csv_", Tables.writeCsv, Tables.readCsv(s, _, _))

  /** JSON-lines round trip — same contract as [[qSourceCsv]]. */
  val qSourceJson: Q = (s, d) =>
    roundTrip(s, d, "graft_src_json_", Tables.writeJsonLines, Tables.readJsonLines(s, _, _))

  /** ORC round trip — the columnar sibling of the text-format keys
    * (schema from footers, so the read ignores the schema argument).
    */
  val qSourceOrc: Q = (s, d) =>
    roundTrip(s, d, "graft_src_orc_", Tables.writeOrc, (dir, _) => Tables.readOrc(s, dir))

  /** Corrupt lines planted into the dirty-source fixtures: one per common
    * real-world breakage — truncated line, wrong field count, unparseable
    * number/timestamp, stray log text. The count (7) is part of the graded
    * contract: the key emits it as `n_quarantined`, and the oracle carries
    * the literal — so over-quarantining (clean rows wrongly flagged) and
    * under-quarantining (dirt parsed as data) BOTH break the hash.
    */
  private[graft] val dirtyCsvLines = Seq(
    "event_id,user_id,event_type,ts,value", // header (skipped per header=true)
    "not_a_number,1,click,2024-01-01 00:00:00.000000,1.0",
    "12,34",
    "13,35,click,yesterday,2.0",
    "14,36,click,2024-01-01 00:00:00.000000,NaN-ish",
    "ERROR 2024-01-01 worker crashed mid write",
    "15,37,click,2024-01-01 00:00:00.000000,1.0,EXTRA_FIELD",
    "16,not_a_user,click,2024-01-01 00:00:00.000000,3.0")

  private[graft] val dirtyJsonLines = Seq(
    """{"event_id": 1, "user_id": 2, "event_type": "click", BROKEN""",
    """{"event_id": "not_a_number", "user_id": 2, "event_type": "click", "ts": "2024-01-01 00:00:00.000000", "value": 1.0}""",
    """not json at all""",
    """{"event_id": 12, "user_id": 3, "event_type": "click", "ts": "yesterday", "value": 1.0}""",
    """{"event_id": 13, "user_id": 4, "event_type": "click", "ts": "2024-01-01 00:00:00.000000", "value": "NaN-ish"}""",
    """{"event_id": 17, "user_id": }""",
    """{"event_id": 14""")

  private def plantDirtyFile(dir: String, name: String, lines: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), lines.asJava)
  }

  /** Dirty-source round trip (Tables.readCsvQuarantine scaladoc): the
    * events slice written clean, a file of corrupt lines planted next to
    * it, the directory re-read PERMISSIVE, quarantined rows split off and
    * COUNTED, clean rows aggregated. Oracle: the parquet aggregate plus
    * the planted-line count as a literal — equal iff exactly the planted
    * dirt quarantines and every clean row survives bit-exactly.
    */
  private def dirtyRoundTrip(s: SparkSession, d: String, prefix: String,
      write: (DataFrame, String) => Unit, plant: String => Unit,
      read: (String, org.apache.spark.sql.types.StructType) => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try {
      val ev = eventsSlice(s, d)
      write(ev, dir)
      plant(dir)
      // Persist before splitting: a raw text scan referencing only the
      // corrupt column is refused by Spark (Tables.splitQuarantine doc).
      val parsed = read(dir, ev.schema).cache()
      try {
        val (clean, bad) = Tables.splitQuarantine(parsed)
        val nBad = bad.count()
        aggregate(clean)
          .withColumn("n_quarantined", lit(nBad))
          .localCheckpoint()
      } finally parsed.unpersist()
    } finally deleteRecursively(new java.io.File(dir))
  }

  val qSourceDirtyCsv: Q = (s, d) =>
    dirtyRoundTrip(s, d, "graft_src_dirty_csv_", Tables.writeCsv,
      dir => plantDirtyFile(dir, "zz_dirty.csv", dirtyCsvLines),
      Tables.readCsvQuarantine(s, _, _))

  val qSourceDirtyJson: Q = (s, d) =>
    dirtyRoundTrip(s, d, "graft_src_dirty_json_", Tables.writeJsonLines,
      dir => plantDirtyFile(dir, "zz_dirty.json", dirtyJsonLines),
      Tables.readJsonLinesQuarantine(s, _, _))

  /** Compaction round trip (Tables.compact scaladoc — the housekeeping
    * pass a long-running ingest needs): the events slice written as 64
    * tiny files (a streaming sink's natural residue), compacted to 4,
    * aggregated from the compacted copy. Oracle: the parquet aggregate —
    * equal iff the rewrite is row- and value-exact. The file-count
    * mechanics (64 → 4) are pinned by SourceFormatsSpec; this key grades
    * the data fidelity at the oracle surface.
    */
  val qCompactRoundtrip: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_rt_").toString
    try {
      eventsSlice(s, d).repartition(64).write.mode("overwrite").parquet(s"$dir/small")
      Tables.compact(s, s"$dir/small", s"$dir/big", targetFiles = 4)
      aggregate(Tables.configure(s).read.parquet(s"$dir/big")).localCheckpoint()
    } finally deleteRecursively(new java.io.File(dir))
  }

  /** Predicate-delete round trip (Tables.deletePartitionedWhere
    * scaladoc): the events slice persisted partitioned by event_type,
    * every seventh user's rows deleted in place, the maintained store
    * read back and aggregated. Oracle: the same aggregate over the
    * fixture with the deletion predicate NEGATED — equal iff exactly
    * the matching rows vanished and everything else survived the
    * partition rewrites bit-exactly.
    */
  val qDeleteWhere: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_delete_where_").toString
    try {
      Tables.writePartitioned(eventsSlice(s, d), dir, Seq("event_type"))
      Tables.deletePartitionedWhere(s, dir, "event_type", col("user_id") % 7 === 0)
      aggregate(Tables.configure(s).read.parquet(dir)).localCheckpoint()
    } finally deleteRecursively(new java.io.File(dir))
  }

  /** Retention-sweep round trip (Tables.expirePartitionsBefore scaladoc):
    * the events slice persisted day-partitioned, days before the cutoff
    * expired as whole directories (metadata-only — nothing scanned or
    * rewritten), the surviving store aggregated. Oracle: the same
    * aggregate over the fixture with the retention WHERE — equal iff
    * exactly the pre-cutoff days vanished and surviving days are intact.
    */
  val qRetentionSweep: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_retention_").toString
    try {
      Tables.writePartitioned(
        eventsSlice(s, d).withColumn("event_date", to_date(col("ts"))),
        dir, Seq("event_date"))
      Tables.expirePartitionsBefore(s, dir, "event_date", "2024-01-10")
      aggregate(Tables.configure(s).read.parquet(dir)).localCheckpoint()
    } finally deleteRecursively(new java.io.File(dir))
  }

  /** Orphan-vacuum round trip (Streams.vacuumUncommitted scaladoc): the
    * events slice lands as two marker-committed batch directories plus
    * a CRASHED RETRY of the second batch — a partial, marker-less
    * orphan whose batchId never replays. Vacuum sweeps it; the key then
    * reads the store the way a marker-OBLIVIOUS downstream consumer
    * does (plain recursive file listing) and aggregates. Oracle: the
    * aggregate over the intact slice — equal iff the orphan's
    * would-be-duplicate rows are gone (count(*) would inflate) and both
    * committed batches survived untouched.
    */
  val qVacuumOrphans: Q = (s, d) => {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_vacuum_").toString
    try {
      val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
      def commit(name: String): Unit =
        fs.create(new Path(s"$dir/$name", graft.streaming.Streams.CommitMarker), true).close()
      val ev = eventsSlice(s, d)
      val mid = lit("2024-01-16").cast("timestamp")
      ev.where(col("ts") < mid).write.parquet(s"$dir/batch_000000")
      commit("batch_000000")
      ev.where(col("ts") >= mid).write.parquet(s"$dir/batch_000001")
      commit("batch_000001")
      // The crashed retry: half of batch 1's rows made it to disk
      // before the writer died — no marker.
      ev.where(col("ts") >= mid && col("user_id") % 2 === 0)
        .write.parquet(s"$dir/batch_000002")
      val swept = graft.streaming.Streams.vacuumUncommitted(s, dir, graceMs = 0)
      require(swept == Seq("batch_000002"), s"unexpected sweep: $swept")
      aggregate(Tables.configure(s).read
        .option("recursiveFileLookup", "true").parquet(dir))
        .localCheckpoint()
    } finally deleteRecursively(new java.io.File(dir))
  }

  /** Schema-evolution round trip (Tables.readMergedSchema scaladoc): the
    * corpus is written in two batch directories with DIFFERENT schemas —
    * batch_0 predates the `lang` column, batch_1 carries it — then read
    * back as one frame with `mergeSchema`, the missing column defaulted
    * EXPLICITLY, and aggregated. Oracle: union of the two slices with the
    * old slice's lang as NULL, then the same default — equal iff old-batch
    * rows surface with the declared default (not silently dropped or
    * mistyped) and new-batch rows keep their real values.
    */
  val qSchemaEvolution: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_evo_").toString
    try {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"))
      // v1 batch: written before the lang column existed.
      docs.where(col("doc_id") % 2 === 0).select(col("doc_id"), col("n_chars"))
        .write.parquet(s"$dir/batch_0")
      // v2 batch: the evolved schema.
      docs.where(col("doc_id") % 2 =!= 0)
        .write.parquet(s"$dir/batch_1")
      Tables.readMergedSchema(s, s"$dir/batch_0", s"$dir/batch_1")
        .withColumn("lang", coalesce(col("lang"), lit("pre_v2")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
        .orderBy("lang")
        .localCheckpoint()
    } finally deleteRecursively(new java.io.File(dir))
  }

  /** Write a date-sorted copy of (a projection of) orders and read it
    * back with a one-month range filter — the sorted-layout scan the
    * graded key and SourceFormatsSpec share: with 8 disjoint-range
    * files over ~80 months of dates, the filter's min/max pushdown
    * skips ~7 of 8 files' row groups entirely.
    */
  private[graft] def sortedOrdersScan(s: SparkSession, d: String, dir: String): DataFrame = {
    // Cluster key is the DERIVED DATE, not the raw timestamp — the
    // reader skips row groups on int/date stats but not on timestamp
    // stats (Tables.writeSorted scaladoc gotcha).
    Tables.writeSorted(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_date"),
        col("o_totalprice"), col("o_orderpriority")),
      dir, Seq("o_date"), files = 8)
    Tables.configure(s).read.parquet(dir)
      .where(col("o_date") >= lit("1996-01-01").cast("date") &&
        col("o_date") < lit("1996-02-01").cast("date"))
  }

  /** Sorted-layout round trip (Tables.writeSorted scaladoc — the
    * clustering lever): orders range-sorted by date, read back with a
    * month filter, aggregated. Oracle: identical aggregate over the
    * unsorted fixture with the same WHERE — equal iff the sorted
    * layout preserves rows and the stat-skipping read sees exactly the
    * filtered slice.
    */
  val qSortedScan: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted_orders_").toString
    try {
      sortedOrdersScan(s, d, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          // exact cents (the ×970 gate caught this raw-double sum riding
          // a half-cent boundary at Σ≈10¹¹ — the localCheckpoint at the
          // end hides this plan from MoneySumLint, so the construction-
          // site grep in MoneySumLintSpec covers ALL money columns now)
          Relational.sumValue2(col("o_totalprice")).as("sum_price"),
          min(col("o_orderkey")).as("min_orderkey"))
        .orderBy("o_orderpriority")
        .localCheckpoint()
    } finally deleteRecursively(new java.io.File(dir))
  }

  /** Write a z-ordered copy of events clustered on (user_id,
    * day-of-month) and read it back under a both-dimension filter —
    * shared by the graded key and SourceFormatsSpec, which also pins
    * the contrast: a DAY-only filter skips on the z layout but reads
    * ~everything on a user-sorted layout (the single-column sort has no
    * second-dimension locality).
    */
  private[graft] def zOrderedEventsScan(s: SparkSession, d: String, dir: String): DataFrame = {
    Tables.writeZOrdered(
      Tables.events(s, d).select(col("event_id"), col("user_id"),
        dayofmonth(col("ts")).as("day"), col("event_type"), col("value")),
      dir, "user_id", "day", files = 16)
    Tables.configure(s).read.parquet(dir)
      .where(col("user_id").between(10, 20) && col("day").between(5, 10))
  }

  /** Z-order round trip (Tables.writeZOrdered scaladoc — the
    * multi-dimension clustering lever): events clustered on
    * (user_id, day), read back filtered on BOTH dimensions,
    * aggregated. Oracle: identical aggregate over the fixture with the
    * same predicate.
    */
  val qZorderScan: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder_events_").toString
    try {
      zOrderedEventsScan(s, d, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          Relational.sumValue2(col("value")).as("sum_value"))
        .orderBy("event_type")
        .localCheckpoint()
    } finally deleteRecursively(new java.io.File(dir))
  }

  /** Write a lang-partitioned copy of (a projection of) documents and
    * read it back filtered to `langs` — the scan over the returned frame
    * prunes to the matching `lang=…` directories at planning time
    * (PlanSpec executes it and asserts the scan's partition count and
    * PartitionFilters). Shared by the graded key and the plan spec so
    * the pinned plan IS the graded plan.
    */
  private[graft] def partitionedDocsScan(s: SparkSession, d: String, dir: String,
      langs: Seq[String]): DataFrame = {
    Tables.writePartitioned(
      Tables.documents(s, d).select(col("doc_id"), col("n_chars"), col("lang")),
      dir, Seq("lang"))
    Tables.configure(s).read.parquet(dir).where(col("lang").isin(langs: _*))
  }

  /** Partitioned-layout round trip (the 100 TB scan-cost lever —
    * Tables.writePartitioned scaladoc): documents partitioned by lang,
    * read back with a partition filter, aggregated. Oracle: identical
    * aggregate over the unpartitioned parquet fixture with the same
    * WHERE — equal iff the partitioned layout preserves rows and the
    * pruned read sees exactly the filtered slice.
    */
  val qPartitionPruned: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_docs_").toString
    try {
      partitionedDocsScan(s, d, dir, Seq("de", "fr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
        .orderBy("lang")
        .localCheckpoint()
    } finally deleteRecursively(new java.io.File(dir))
  }

  /** The shuffle-free bucketed join the graded key aggregates — shared
    * with PlanSpec, which asserts the join plans with ZERO shuffle
    * exchanges and `Bucketed: true` scans on both sides (the
    * write-time-amortized-shuffle contract of Tables.writeBucketed).
    * Writes both bucketed tables (mode overwrite — rerun-safe).
    */
  /** The two bucketed table names, namespaced per session so concurrent
    * clients (own `newSession()`, SHARED catalog) never race each
    * other's saveAsTable/DROP — what lets ConcurrentVerify grade this
    * key instead of excluding it.
    */
  private[graft] def bucketedNames(s: SparkSession): (String, String) = {
    val ns = Tables.sessionNs(s)
    (s"graft_events_bkt_$ns", s"graft_user_counts_bkt_$ns")
  }

  private[graft] def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "user_id", "event_type", "value")
    val agg = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val (evName, aggName) = bucketedNames(s)
    Tables.writeBucketed(ev, evName, 8, Seq("user_id"))
    Tables.writeBucketed(agg, aggName, 8, Seq("user_id"))
    // merge hint: the per-user dim is small enough that the planner would
    // broadcast (also shuffle-free, but then the bucketing is unexercised).
    s.table(evName).hint("merge")
      .join(s.table(aggName), "user_id")
  }

  /** Bucketed-layout round trip — the join-side twin of
    * [[qPartitionPruned]]'s scan-side layout lever: events and a
    * per-user dim persisted bucketed+sorted on user_id, joined with no
    * shuffle on either side, aggregated. Oracle: the same join+aggregate
    * over the parquet fixture — equal iff the bucketed layout preserves
    * rows and the co-located join matches the plain one.
    */
  val qBucketedJoin: Q = (s, d) => {
    val out = bucketedJoin(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_events")).as("sum_n_events"),
        Relational.sumValue2(col("value")).as("sum_value"))
      .orderBy("event_type")
      .localCheckpoint()
    val (evName, aggName) = bucketedNames(s)
    s.sql(s"DROP TABLE IF EXISTS `$evName`")
    s.sql(s"DROP TABLE IF EXISTS `$aggName`")
    out
  }

  /** Graded surface for [[Tables.snapshotDiff]] — migration audit: v2 is
    * v1 (documents keyed into 16 synthetic partitions) with deletes
    * (doc_id ≡ 2 mod 8 → partitions 2,10), payload updates (doc_id ≡ 1
    * mod 4 → partitions 1,5,9,13; disjoint from the deletes since
    * 2 mod 8 ⇒ 2 mod 4), and inserts (ids +400000 from doc_id ≡ 6
    * mod 16; 400000 ≡ 0 mod 16 keeps them in partition 6). 9 of 16
    * partitions are untouched, so the pruned phase-2 join reads 7 —
    * SnapshotDiffSpec pins the pruning; this key pins the delta. The
    * checksum is the Knuth order hash times the text length — the
    * cross-engine-reproducible payload fingerprint (length changes on
    * every planted update: " v2" appended).
    */
  val qSnapshotDiff: Q = (s, d) => {
    val v1 = Tables.documents(s, d)
      .select(col("doc_id"), pmod(col("doc_id"), lit(16L)).as("part"), col("text"))
    val v2 = v1.where(!(col("doc_id") % 8 === 2))
      .withColumn("text", when(col("doc_id") % 4 === 1,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(v1.where(col("doc_id") % 16 === 6)
        .select((col("doc_id") + 400000L).as("doc_id"), col("part"), col("text")))
    val ck = Assembly.orderHash(col("doc_id")) * length(col("text")).cast("long")
    Tables.snapshotDiff(v1, v2, "doc_id", "part", ck)
      .groupBy(col("part"), col("status"))
      .agg(count(lit(1)).as("n"),
        sum(Assembly.orderHash(col("doc_id"))).as("id_checksum"))
      .orderBy("part", "status")
  }

  val queries: Map[String, Q] = Map(
    "q_source_csv" -> qSourceCsv,
    "q_snapshot_diff" -> qSnapshotDiff,
    "q_source_json" -> qSourceJson,
    "q_source_orc" -> qSourceOrc,
    "q_source_dirty_csv" -> qSourceDirtyCsv,
    "q_source_dirty_json" -> qSourceDirtyJson,
    "q_schema_evolution" -> qSchemaEvolution,
    "q_compact_roundtrip" -> qCompactRoundtrip,
    "q_delete_where" -> qDeleteWhere,
    "q_retention_sweep" -> qRetentionSweep,
    "q_vacuum_orphans" -> qVacuumOrphans,
    "q_partition_pruned" -> qPartitionPruned,
    "q_sorted_scan" -> qSortedScan,
    "q_zorder_scan" -> qZorderScan,
    "q_bucketed_join" -> qBucketedJoin
  )
}
