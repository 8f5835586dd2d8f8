package graft.operators

import graft.{OracleSql, Q, QueryModule}
import graft.functions.Exact._
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Storage-layout operators — the two techniques that pre-pay shuffle and
  * scan cost at WRITE time so every later read gets them for free. The
  * reference re-reads one flat CSV per job (Dataset.py:77); a 100 TB
  * pipeline instead lays data out once:
  *
  *  - **bucketing** (q66): both fact tables hash-clustered into the same
  *    number of buckets on the join key at write time. Every subsequent
  *    equi-join on that key is planned WITHOUT a shuffle on either side —
  *    the bucket id IS the partition assignment, so a 1000-executor join
  *    moves zero fact rows over the network. The one-time write shuffle
  *    amortizes over every downstream join/aggregation on the key.
  *  - **partitioned layout + pruning** (q67): low-cardinality filter
  *    columns become directory partitions; a filter on the partition key
  *    is resolved against file LISTINGS (PartitionFilters), so the scan
  *    never opens the excluded files at all — the I/O analogue of an
  *    index, and the difference between scanning 100 TB and scanning the
  *    one partition the query touches.
  *
  * Both queries return results identical to the un-laid-out plans (the
  * oracles are the plain SQL over the original tables — equivalence is the
  * point), and PlanSpec pins the plan shapes: no join exchange in q66, a
  * partition filter and no pushed data filter in q67.
  */
object Storage extends QueryModule {

  private val runId = new java.util.concurrent.atomic.AtomicInteger()

  /** Process+run-unique suffix for metastore table names: the counter alone
    * only disambiguates runs WITHIN one JVM; concurrent processes sharing a
    * warehouse each start their counter at 1 and would collide.
    */
  private def uniqueSuffix(): String =
    s"${java.lang.ProcessHandle.current.pid}_${runId.incrementAndGet()}"

  private def bucketedTable(s: org.apache.spark.sql.SparkSession,
      df: DataFrame, key: String, name: String, dir: String): DataFrame = {
    // Pre-shuffle into one partition per bucket: repartition(n, key) and
    // bucketBy(n, key) use the same pmod(murmur3) assignment, so each write
    // task holds exactly one bucket and emits exactly one file. Without it
    // every input task writes a file per bucket it touches — tasks×buckets
    // small files, the write amplification a 100 TB layout job cannot
    // afford (and the single-split fixture's dual pathology: ONE task
    // writing all buckets serially).
    df.repartition(8, col(key)).write.mode("overwrite")
      .bucketBy(8, key).sortBy(key)
      .option("path", s"$dir/$name")
      .saveAsTable(name)
    s.table(name)
  }

  /** q66 — lineitem⋈orders revenue per priority over BUCKETED tables: both
    * sides clustered into 8 buckets on the join key, so the merge join has
    * no Exchange on either input (the only shuffle left is the tiny
    * per-priority aggregate). The `merge` hint keeps the plan a sort-merge
    * join even when one side would fit a broadcast at fixture scale — at
    * 100 TB neither side broadcasts, and the bucketed SMJ is the plan that
    * survives.
    *
    * Only the columns the downstream join/aggregate needs are bucketed —
    * a real layout job clusters the projection its consumers read, and
    * column pruning cannot happen at read time for bytes already written.
    * Table names are run-unique and dropped (with their scratch dir) after
    * the aggregate materializes, so repeated rounds and concurrent
    * sessions sharing a warehouse never collide or accumulate copies.
    *
    * This is the lazy join over freshly-written bucketed tables plus the
    * cleanup that unregisters them — split out so PlanSpec can pin the
    * exchange-free plan before materialization.
    */
  private[graft] def bucketedJoinLazy(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, () => Unit) = {
    val dir = graft.Scratch.dir("graft_bucketed")
    val id = uniqueSuffix()
    val oName = s"graft_b_orders_$id"
    val liName = s"graft_b_lineitem_$id"
    val o = bucketedTable(s,
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
      "o_orderkey", oName, dir)
    val li = bucketedTable(s,
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"),
      "l_orderkey", liName, dir)
    val agg = li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        dsumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
    (agg, () => {
      s.sql(s"DROP TABLE IF EXISTS $oName")
      s.sql(s"DROP TABLE IF EXISTS $liName")
      graft.Scratch.drop(dir)
    })
  }

  val bucketedJoin: Q = (s, d) => {
    val (agg, cleanup) = bucketedJoinLazy(s, d)
    // materialize the (5-row) aggregate, then drop the tables + scratch dir:
    // the returned plan must not reference a table that no longer exists
    try {
      val rows = java.util.Arrays.asList(agg.collect(): _*)
      s.createDataFrame(rows, agg.schema)
    } finally cleanup()
  }

  /** q67 — orders re-laid-out as a directory partition per o_orderstatus,
    * then a status filter + per-priority aggregate over the read-back. The
    * filter binds to the partition LISTING (plan shows PartitionFilters,
    * and no pushed data filter): the 'F' query physically reads only the
    * o_orderstatus=F files.
    */
  val partitionPrune: Q = (s, d) => {
    val dir = graft.Scratch.dir("graft_part")
    // Cluster rows by the partition column before the write: otherwise
    // every write task emits a file into EVERY status directory
    // (tasks×partitions small files). One shuffle on the column caps the
    // file count at the partition count; a 100 TB job uses
    // repartition(n, col) for n files per partition — same knob.
    Tables.orders(s, d).repartition(col("o_orderstatus"))
      .write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(dir)
    s.read.parquet(dir)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** q121 — DYNAMIC partition pruning: the star-join twin of q67's static
    * prune. The fact table is directory-partitioned on the join key; the
    * dimension's selective filter (`closed`) is only known at PLAN time on
    * the dim side — Spark's DPP turns the broadcast dim into a runtime
    * subquery in the fact scan's PartitionFilters, so only the partitions
    * whose keys survive the dim filter are ever listed or read. This is
    * THE mechanism that makes "fact JOIN filtered-dim" read 2 of 1000
    * partitions at 100 TB without the user repeating the filter on the
    * fact side; PlanSpec pins the dynamicpruning expression in the scan.
    * The dim is staged to parquet (a LocalRelation would constant-fold
    * before DPP could apply) — exactly the real shape: dims are tables.
    * The dim predicate is a string comparison, not a bare boolean flag:
    * the optimizer's isLikelySelective gate admits comparisons/IN/LIKE
    * but not a lone boolean attribute, so `filter(col("flag"))` would
    * silently disqualify the whole rewrite.
    */
  val dynamicPrune: Q = (s, d) => {
    val factDir = graft.Scratch.dir("graft_dpp_fact")
    Tables.orders(s, d).repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(factDir)
    import s.implicits._
    val dim = graft.Scratch.stage("graft_dpp_dim",
        Seq(("F", "closed"), ("O", "open"), ("P", "closed"))
          .toDF("status", "lifecycle"))
      .filter(col("lifecycle") === "closed")
    val fact = s.read.parquet(factDir)
    fact.join(broadcast(dim), fact("o_orderstatus") === dim("status"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** q124 — manifest-based INCREMENTAL read: the snapshot/changed-files
    * primitive of every table format (Iceberg incremental scan, Delta
    * change feed, Hive ACID originals) built explicitly on plain parquet.
    * Each batch append is followed by a manifest snapshot — a TABLE of the
    * data files present — and an incremental consumer computes
    * added = manifest(v2) ∖ manifest(v1) and reads ONLY those files: a
    * daily consumer of a 100 TB table reads the day's files, never the
    * table, and needs no data-level predicate to do it (the layout can't
    * lie the way a `WHERE ingest_date = ...` filter over late data can).
    * The file list is metadata (bounded by file count, not rows) —
    * collecting it to the planner is exactly what Iceberg's scan planning
    * does. Oracle: the second batch's predicate over the plain table —
    * manifest math must equal the logical delta.
    */
  val incrementalRead: Q = (s, d) => {
    import s.implicits._
    val root = graft.Scratch.dir("graft_manifest")
    val dataDir = s"$root/data"
    val o = Tables.orders(s, d)
    def snapshot(v: Int): Unit = {
      // Hadoop FileSystem API, not java.io.File — the manifest writer must
      // list whatever filesystem the table lives on (HDFS/S3/local alike),
      // same as Memo's existence probe.
      val dataPath = new org.apache.hadoop.fs.Path(dataDir)
      val fs = dataPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(dataPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString).toSeq
      files.toDF("path").write.mode("overwrite").parquet(s"$root/manifests/v$v")
    }
    o.filter(col("o_orderdate") < "1997-01-01")
      .write.mode("overwrite").parquet(dataDir)
    snapshot(1)
    o.filter(col("o_orderdate") >= "1997-01-01")
      .write.mode("append").parquet(dataDir)
    snapshot(2)
    val added = s.read.parquet(s"$root/manifests/v2")
      .except(s.read.parquet(s"$root/manifests/v1"))
      .collect().map(_.getString(0)).sorted
    s.read.parquet(added: _*)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** q134 — manifest-based TIME TRAVEL: q124's snapshot machinery read at
    * an ARBITRARY past version. Three batch appends each snapshot a
    * manifest; the consumer reads AS OF v2 — the middle version, not
    * merely the previous one — by scanning exactly the files manifest v2
    * lists. "What did the table say then" without a copy of the data:
    * versions share their unchanged files, the bill every table format
    * (Iceberg snapshot reads, Delta VERSION AS OF) sells. The manifest
    * is metadata — bounded by file count — and the oracle checks
    * version math ≡ the first two batches' logical predicate.
    */
  val timeTravel: Q = (s, d) => timeTravelRun(s, d)._1

  /** The q134 body, returning the live data dir too so StorageSpec can
    * assert the version isolation lives in the manifest, not the layout. */
  private[graft] def timeTravelRun(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, String) = {
    import s.implicits._
    val root = graft.Scratch.dir("graft_timetravel")
    val dataDir = s"$root/data"
    val o = Tables.orders(s, d)
    val fs = new org.apache.hadoop.fs.Path(dataDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def snapshot(v: Int): Unit = {
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(dataDir))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString).toSeq
      files.toDF("path").write.mode("overwrite").parquet(s"$root/manifests/v$v")
    }
    o.filter(col("o_orderdate") < "1996-01-01")
      .write.mode("overwrite").parquet(dataDir)
    snapshot(1)
    o.filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
      .write.mode("append").parquet(dataDir)
    snapshot(2)
    o.filter(col("o_orderdate") >= "1997-01-01")
      .write.mode("append").parquet(dataDir)
    snapshot(3)
    // AS OF v2: the live dir now holds all three batches; the version's
    // file list IS the isolation (metadata-bounded collect, as q124)
    val asOf = s.read.parquet(s"$root/manifests/v2")
      .collect().map(_.getString(0)).sorted
    val out = s.read.parquet(asOf: _*)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
    (out, dataDir)
  }

  /** q227 — SCHEMA DRIFT diff between two table versions: the
    * compatibility report a lake catalog produces before a reader
    * upgrade — which columns a new snapshot added, removed, or RETYPED
    * (the dangerous one: a silent double→decimal change breaks binary
    * readers that survived the additive cases q82's mergeSchema
    * handles). Two versions are staged (v2 drops o_custkey, adds
    * o_orderpriority, retypes o_totalprice to DECIMAL(18,2)) and the
    * diff derives from the parquet FOOTER schemas alone — pure metadata,
    * the planner-side math of q124's manifest discipline applied to
    * types: zero data rows are read to produce the report.
    */
  val schemaDrift: Q = (s, d) => {
    import s.implicits._
    val root = graft.Scratch.dir("graft_schemadrift")
    val o = Tables.orders(s, d)
    o.select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$root/v1")
    o.select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$root/v2")
    val s1 = s.read.parquet(s"$root/v1").schema
      .map(f => f.name -> f.dataType.simpleString).toMap
    val s2 = s.read.parquet(s"$root/v2").schema
      .map(f => f.name -> f.dataType.simpleString).toMap
    (s1.keySet ++ s2.keySet).toSeq.sorted.map { c =>
      val status = (s1.get(c), s2.get(c)) match {
        case (Some(a), Some(b)) if a == b => "unchanged"
        case (Some(_), Some(_))           => "retyped"
        case (Some(_), None)              => "removed"
        case _                            => "added"
      }
      (c, s1.getOrElse(c, "-"), s2.getOrElse(c, "-"), status)
    }.toDF("column_name", "type_v1", "type_v2", "status")
      .orderBy("column_name")
  }

  /** q221 — MANIFEST-DRIVEN incremental AGGREGATE refresh: the
    * composition the two halves were built for — q124's changed-files
    * primitive DRIVING q108's mergeable partial state. A materialized
    * per-priority aggregate (count / decimal sum / min / max — every
    * component mergeable) is staged alongside manifest v1; when a new
    * batch lands (manifest v2), the refresher reads ONLY the added
    * files (v2 ∖ v1 — file-count-bounded metadata math, never a data
    * predicate), reduces them to delta partials, and merges:
    * count+count, sum+sum, min(min), max(max). The oracle is the full
    * recompute over the whole table — merge ≡ recompute IS the
    * materialized-view-refresh contract, and at 100 TB the refresh
    * reads one day's files instead of the history. avg is derived at
    * read time (it does not merge; q108's rule).
    */
  val incrementalRefresh: Q = (s, d) => {
    import s.implicits._
    val root = graft.Scratch.dir("graft_increfresh")
    val dataDir = s"$root/data"
    val o = Tables.orders(s, d)
    val fs = new org.apache.hadoop.fs.Path(dataDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def snapshot(v: Int): Unit = {
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(dataDir))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString).toSeq
      files.toDF("path").write.mode("overwrite").parquet(s"$root/manifests/v$v")
    }
    def partials(df: DataFrame) = df.groupBy("o_orderpriority").agg(
      count(lit(1)).as("n"),
      sum(dec2(col("o_totalprice"))).as("total"),
      min("o_orderdate").as("first_date"),
      max("o_orderdate").as("last_date"))
    // base load + materialized base partials
    o.filter(col("o_orderdate") < "1997-01-01")
      .write.mode("overwrite").parquet(dataDir)
    snapshot(1)
    partials(s.read.parquet(dataDir))
      .write.mode("overwrite").parquet(s"$root/agg_v1")
    // a new batch lands
    o.filter(col("o_orderdate") >= "1997-01-01")
      .write.mode("append").parquet(dataDir)
    snapshot(2)
    // the refresh: added files only → delta partials → mergeable fold
    val added = s.read.parquet(s"$root/manifests/v2")
      .except(s.read.parquet(s"$root/manifests/v1"))
      .collect().map(_.getString(0)).sorted
    val delta = partials(s.read.parquet(added: _*))
    s.read.parquet(s"$root/agg_v1").unionByName(delta)
      .groupBy("o_orderpriority").agg(
        sum("n").as("n"),
        sum("total").cast("decimal(18,2)").as("t2"),
        min("first_date").as("first_date"),
        max("last_date").as("last_date"))
      .select(col("o_orderpriority"), col("n"),
        col("t2").cast("double").as("total"),
        col("first_date"), col("last_date"),
        // avg derived at read time from the merged components
        expr("CAST(t2 * 100 AS BIGINT) div n").as("avg_cents"))
      .orderBy("o_orderpriority")
  }

  /** q206 — GARBAGE-COLLECTION (orphan-file) audit: the maintenance pass
    * every manifest-tracked table needs — rewrite commits (compaction,
    * clustering, MERGE) leave their input files on disk but OUT of the
    * live manifest, and nothing but an explicit disk-vs-manifest diff
    * ever reclaims them (Iceberg `remove_orphan_files`, Delta VACUUM).
    * Staged here end to end: two batch appends, then a compaction that
    * rewrites ONLY the first batch's files into one file and commits a
    * manifest listing the compacted file plus the untouched second batch
    * — the first batch's two files are now orphans. The audit computes
    * disk-listing ∖ live-manifest (both metadata tables, bounded by file
    * count — q124's planner-side discipline), then proves the reclaim is
    * SAFE by row math: rows reachable through the live manifest must
    * equal the table, and the orphans must hold exactly the rewritten
    * batch (deleting them loses nothing). Output one row of file counts
    * + row counts; the file counts are structural constants pinned by
    * the explicit coalesce/repartition widths.
    */
  val gcAudit: Q = (s, d) => {
    import s.implicits._
    val root = graft.Scratch.dir("graft_gc")
    val dataDir = s"$root/data"
    val o = Tables.orders(s, d)
    val fs = new org.apache.hadoop.fs.Path(dataDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def list(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dataDir))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString).toSeq.sorted
    // repartition, not coalesce: the single-row-group fixture scan yields
    // ONE split, and coalesce can only shrink — the pinned 2-file batches
    // need a real exchange
    o.filter(col("o_orderdate") < "1997-01-01").repartition(2)
      .write.mode("overwrite").parquet(dataDir)
    val batch1 = list() // 2 files
    o.filter(col("o_orderdate") >= "1997-01-01").repartition(2)
      .write.mode("append").parquet(dataDir)
    val batch2 = list().diff(batch1) // 2 files
    // compaction commit: rewrite batch1's two small files as ONE file in
    // the same dir; the new live manifest = compacted + batch2 (the
    // rewrite's inputs drop out — they are now garbage on disk)
    s.read.parquet(batch1: _*).repartition(1)
      .write.mode("append").parquet(dataDir)
    val all = list()
    val compacted = all.diff(batch1 ++ batch2) // 1 file
    (compacted ++ batch2).toDF("path")
      .write.mode("overwrite").parquet(s"$root/manifests/live")
    // the audit: disk ∖ live manifest, as DataFrame set algebra over two
    // metadata tables; the orphan list is collected planner-side (bounded
    // by file count) to drive the row-safety reads
    val disk = all.toDF("path")
    val live = s.read.parquet(s"$root/manifests/live")
    val orphans = disk.except(live).collect().map(_.getString(0)).sorted
    val nLive = s.read.parquet(live.collect().map(_.getString(0)).sorted: _*)
      .agg(count(lit(1))).head().getLong(0)
    val nOrph = s.read.parquet(orphans: _*)
      .agg(count(lit(1))).head().getLong(0)
    s.range(1).select(
      lit(all.size.toLong).as("n_files_disk"),
      lit((compacted ++ batch2).size.toLong).as("n_files_live"),
      lit(orphans.length.toLong).as("n_orphans"),
      lit(nLive).as("rows_live"),
      lit(nOrph).as("rows_orphan"))
  }

  /** q135 — per-file ZONE-MAP file skipping: the min/max column-stats
    * pruning every table format performs at scan planning (Iceberg
    * manifests' per-file column bounds, Delta file stats), made explicit
    * on plain parquet. The table is written range-clustered on the probe
    * column (8 files via repartitionByRange), a stats TABLE of per-file
    * min/max is derived (one aggregate keyed on `_metadata.file_path` —
    * file count rows, metadata-sized), and the consumer intersects the
    * query interval with each file's span to read ONLY overlapping files
    * — a narrow date probe of a 100 TB table opens the files whose zone
    * intersects, never the table. The residual row filter still applies
    * (a zone map prunes, it never filters); StorageSpec pins that the
    * plan really skips files.
    */
  val zoneMapSkip: Q = (s, d) => zoneMapRun(s, d)._1

  /** The q135 body, returning the clustered data dir too so StorageSpec
    * can audit the planner-side stats the operator prunes with. */
  private[graft] def zoneMapRun(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, String) = {
    val root = graft.Scratch.dir("graft_zonemap")
    val dataDir = s"$root/data"
    Tables.orders(s, d)
      .repartitionByRange(8, col("o_orderdate"))
      .write.mode("overwrite").parquet(dataDir)
    val stats = s.read.parquet(dataDir)
      .groupBy(col("_metadata.file_path").as("path"))
      .agg(min("o_orderdate").as("lo"), max("o_orderdate").as("hi"))
    val (qlo, qhi) = ("1995-06-01", "1996-06-01")
    // metadata-bounded collect: one row per FILE (zone maps live on the
    // planner, exactly like Iceberg's stats-based scan pruning)
    val files = stats
      .filter(col("hi") >= qlo && col("lo") <= qhi)
      .collect().map(_.getString(0)).sorted
    val out = s.read.parquet(files: _*)
      .filter(col("o_orderdate") >= qlo && col("o_orderdate") <= qhi)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
    (out, dataDir)
  }

  /** The zone-map stats table and the pruned file list for the probe
    * interval — exposed so StorageSpec can assert real skipping. */
  private[graft] def zoneMapPlan(s: org.apache.spark.sql.SparkSession,
      dataDir: String, qlo: String, qhi: String): (Long, Long) = {
    val stats = s.read.parquet(dataDir)
      .groupBy(col("_metadata.file_path").as("path"))
      .agg(min("o_orderdate").as("lo"), max("o_orderdate").as("hi"))
    (stats.count(), stats.filter(col("hi") >= qlo && col("lo") <= qhi).count())
  }

  /** Bloom hash-function count (q157). */
  private val bloomFpK = 3

  /** q157 — per-FILE BLOOM skipping index: the data-skipping complement
    * to q135's zone maps for HIGH-CARDINALITY NON-CLUSTERING columns.
    * The layout is range-clustered by ship date ("time partitions"); the
    * probe column is l_orderkey, which range stats cannot prune (every
    * file's orderkey range is wide) but a per-file Bloom bitmap can: an
    * order ships within a few months, so its rows live in 1–3 of the 8
    * time slices and the index proves most files clean. This is
    * Parquet/Iceberg bloom-filter column indexes as an explicit operator.
    *
    * Plan: one distinct (file, key) pass builds the bitmaps (k=3 md5
    * positions, width sized to 16× the max per-file NDV rounded up to a
    * power of two — sizing by observed NDV is what real writers do, and
    * the width lives only operator-side: the ORACLE checks the answers,
    * StorageSpec pins the skipping, so no cross-engine width contract is
    * needed). Candidate files per probe key = files where all k
    * positions are set, computed declaratively and collected
    * metadata-bounded (≤ files × probes rows — planner-side file
    * pruning, exactly q135's justification); the pruned read touches
    * candidate files only. Bloom has NO false negatives, so grouping the
    * pruned union by key is exact — false positives cost I/O, never
    * correctness. Probes are the 5 smallest orderkeys (bounded 5-row
    * collect, deterministic in both engines).
    */
  private[graft] def bloomSkipRun(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, Seq[String], Seq[String], Seq[String]) = {
    import org.apache.spark.sql.Column
    val root = graft.Scratch.dir("graft_bloomskip")
    val dataDir = s"$root/data"
    Tables.lineitem(s, d)
      .repartitionByRange(8, col("l_shipdate"))
      .write.mode("overwrite").parquet(dataDir)
    val li = s.read.parquet(dataDir)
    val probes = li.select(col("l_orderkey")).distinct()
      .orderBy("l_orderkey").limit(5)
      .collect().map(_.getLong(0)).toSeq // bounded: 5 probe keys
    val perFile = li
      .select(col("_metadata.file_path").as("path"), col("l_orderkey").as("k"))
      .distinct()
    val maxNdv = perFile.groupBy("path").agg(count(lit(1)).as("n"))
      .agg(max("n")).head().getLong(0) // 1-row stats collect (writer NDV)
    val width = java.lang.Long.highestOneBit(math.max(16L * maxNdv, 1024L)) * 2
    def positions(key: Column): Column =
      array((0 until bloomFpK).map(j =>
        pmod(conv(substring(md5(concat(lit(s"$j:"), key.cast("string"))), 1, 8),
          16, 10).cast("long"), lit(width))): _*)
    val bits = perFile
      .select(col("path"), explode(positions(col("k"))).as("bit")).distinct()
    val probeDf = s.createDataFrame(probes.map(Tuple1(_))).toDF("k")
    val probeBits = probeDf
      .select(col("k"), posexplode(positions(col("k"))).as(Seq("j", "bit")))
    val cand = probeBits.join(bits, "bit")
      .groupBy("k", "path").agg(countDistinct("j").as("nhit"))
      .filter(col("nhit") === bloomFpK)
    // metadata-bounded planner-side collects (≤ files × probes rows)
    val candFiles = cand.select("path").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val trueFiles = li.filter(col("l_orderkey").isin(probes: _*))
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val allFiles = perFile.select("path").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val out = s.read.parquet(candFiles: _*)
      .filter(col("l_orderkey").isin(probes: _*))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_orderkey")
    (out, allFiles, candFiles, trueFiles)
  }

  val bloomSkip: Q = (s, d) => bloomSkipRun(s, d)._1

  /** q163 — ORDER-INDEPENDENT table digest: per returnflag, a 60-bit
    * content checksum = Σ md5(row key)₆₀ mod (2⁶¹−1), plus the row
    * count — the integrity audit that verifies a 100 TB replication /
    * migration / backfill WITHOUT moving or sorting data: run on both
    * copies, compare a handful of (group, digest) rows. The sum makes it
    * work distributed — addition is associative-commutative, so ANY
    * partitioning and any visit order produce the same digest, where a
    * hash-of-concatenation would need a total sort. Exactness: per-row
    * terms are 60-bit integers summed in DECIMAL(38,0) (no overflow
    * below ~10²⁰ rows), reduced mod a Mersenne prime; every step
    * integer, both engines bit-equal.
    */
  val partitionDigest: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        conv(substring(md5(concat_ws("|",
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),
          1, 15), 16, 10).cast("decimal(38,0)").as("h"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n_rows"), sum("h").as("s"))
      .select(col("flag"), col("n_rows"),
        expr("CAST(s % 2305843009213693951 AS BIGINT)").as("digest"))
      .orderBy("flag")

  /** q211 — ANTI-ENTROPY repair planner: q163's order-independent digest
    * turned into the DECISION a replication system runs — which
    * partitions of a 100 TB replica pair actually differ, and therefore
    * which slices the repair job must re-ship. Two physical replicas are
    * staged (B missing a deterministic slice — the "lost rows" drift a
    * failed backfill leaves), each side reduces to per-partition
    * (row count, Σ md5(key)₆₀ mod 2⁶¹−1) — digests compare content
    * without moving or sorting either copy — and a full-outer join of
    * the two digest tables yields the plan: per partition, both row
    * counts, both digests, the needs_repair verdict and the row delta.
    * The repair set is the handful of mismatched partitions, never the
    * table; cost is one scan per replica. The monetary column enters the
    * row key as exact integer cents (a raw double would hinge the digest
    * on float-to-string rendering).
    */
  val repairPlan: Q = (s, d) => {
    val root = graft.Scratch.dir("graft_repair")
    val o = Tables.orders(s, d)
    o.write.mode("overwrite").parquet(s"$root/replica_a")
    o.filter(!(col("o_orderkey") % 500 === 0 &&
        col("o_orderpriority") === "3-MEDIUM"))
      .write.mode("overwrite").parquet(s"$root/replica_b")
    def digest(df: DataFrame) = df
      .select(col("o_orderpriority").as("part"),
        conv(substring(md5(concat_ws("|", col("o_orderkey"), col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"))), 1, 15), 16, 10)
          .cast("decimal(38,0)").as("h"))
      .groupBy("part")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(h) % 2305843009213693951 AS BIGINT)").as("dg"))
    val a = digest(s.read.parquet(s"$root/replica_a"))
      .select(col("part"), col("n").as("rows_a"), col("dg").as("digest_a"))
    val b = digest(s.read.parquet(s"$root/replica_b"))
      .select(col("part"), col("n").as("rows_b"), col("dg").as("digest_b"))
    a.join(b, Seq("part"), "full_outer")
      .select(col("part"),
        coalesce(col("rows_a"), lit(0L)).as("rows_a"),
        coalesce(col("rows_b"), lit(0L)).as("rows_b"),
        col("digest_a"), col("digest_b"),
        (coalesce(col("digest_a"), lit(-1L)) =!=
          coalesce(col("digest_b"), lit(-2L))).as("needs_repair"),
        (coalesce(col("rows_a"), lit(0L)) -
          coalesce(col("rows_b"), lit(0L))).as("row_delta"))
      .orderBy("part")
  }

  /** q166 — COLUMN ENCODING ADVISOR: per analyzed column, the profile a
    * layout optimizer reads before choosing parquet encodings — NDV,
    * top-value share, Shannon entropy of the value distribution (the
    * lower bound on bits/value any entropy coder can reach), and a
    * dictionary-vs-plain verdict (dict pays when values repeat ≥ 10×).
    * This is the write-side twin of the read-side skipping ops
    * (q135/q157): those exploit layout, this DECIDES it.
    *
    * Plan: one value-count hash aggregate per column (map-side
    * combinable; the profile is usually run on a sample at 100 TB — a
    * TABLESAMPLE clause away, same plan), then everything downstream
    * runs on NDV-sized frames. Entropy is exact-integer: per-value
    * mu = round(ln(n/c)·10⁶) (q94's micro-nat pattern), weighted sum in
    * DECIMAL(38,0), one positive `div` — H = Σ(c/n)·ln(n/c) in µnats,
    * identical trees in both engines.
    */
  val encodingAdvisor: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    def prof(cname: String) = {
      val vc = li.groupBy(col(cname).cast("string").as("v"))
        .agg(count(lit(1)).as("c"))
      val n = vc.agg(sum("c").as("n"))
      vc.crossJoin(broadcast(n))
        .select(col("c"), col("n"),
          expr("""CAST(CAST(c AS DECIMAL(38,0))
                   * CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000) AS BIGINT)
                   AS DECIMAL(38,0))""").as("w"))
        .groupBy()
        .agg(count(lit(1)).as("ndv"), max("n").as("n"),
          max("c").as("top1"), sum("w").as("sw"))
        .select(lit(cname).as("col_name"), col("n"), col("ndv"),
          expr("top1 * 1000000 div n").as("top1_share_ppm"),
          expr("CAST(sw div n AS BIGINT)").as("entropy_unat"),
          expr("CASE WHEN ndv * 10 <= n THEN 'dict' ELSE 'plain' END")
            .as("advice"))
    }
    Seq("l_returnflag", "l_linestatus", "l_quantity", "l_partkey",
      "l_extendedprice")
      .map(prof).reduce(_ unionByName _)
      .orderBy("col_name")
  }

  /** q69 — JSON-lines source with an EXPLICIT schema: documents written as
    * jsonl, read back with the schema passed in (never inferred — schema
    * inference is a full extra pass over 100 TB), aggregated per lang.
    * Identity with the parquet-sourced aggregate is the check: format
    * must not change answers.
    */
  val jsonlRoundtrip: Q = (s, d) => {
    val dir = graft.Scratch.dir("graft_jsonl")
    val docs = Tables.documents(s, d)
    docs.write.mode("overwrite").json(dir)
    s.read.schema(docs.schema).json(dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang")
  }

  /** q70 — ORC sink + source roundtrip (the other columnar format Spark
    * ships natively; same pushdown/pruning machinery as parquet): orders
    * written to ORC, read back with a pushed filter, aggregated.
    */
  val orcRoundtrip: Q = (s, d) => {
    val dir = graft.Scratch.dir("graft_orc")
    Tables.orders(s, d).write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .filter(col("o_totalprice") > 100000)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** q93 — CSV sink + source roundtrip with an EXPLICIT schema on read
    * (the reference's S1 entry point, Dataset.py:77, minus its
    * double-scan `inferSchema`): orders written as headered CSV, read
    * back through graft.sources.Csv, filtered and aggregated. Identity
    * with the parquet-sourced aggregate is the check — text staging must
    * not change answers (doubles round-trip via shortest-repr printing).
    */
  val csvRoundtrip: Q = (s, d) => {
    val dir = graft.Scratch.dir("graft_csv")
    val cols = Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    cols.write.mode("overwrite").option("header", "true").csv(dir)
    graft.sources.Csv.read(s, dir, cols.schema)
      .filter(col("o_orderstatus") === "O")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** q98 — XML sink + source roundtrip (Spark 4's natively-integrated XML
    * data source; the remaining interchange format beside CSV q93 / JSONL
    * q69 / ORC q70): orders written one `<order>` element per row, read
    * back with an EXPLICIT schema (inference is an extra full pass, as
    * everywhere), filtered and aggregated. Identity with the
    * parquet-sourced aggregate is the check — format must not change
    * answers (doubles round-trip via shortest-repr printing, as q93).
    */
  val xmlRoundtrip: Q = (s, d) => {
    val dir = graft.Scratch.dir("graft_xml")
    val cols = Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    cols.write.mode("overwrite").format("xml").option("rowTag", "order").save(dir)
    s.read.schema(cols.schema).format("xml").option("rowTag", "order").load(dir)
      .filter(col("o_orderstatus") === "P")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** q81 — small-file compaction: the events table sprayed into 64 tiny
    * files (every long-running ingestion's pathology — per-trigger sink
    * output), then compacted to size-targeted files with a single
    * `repartition` write. Listing cost and scan task count at 100 TB are
    * governed by file count, so compaction is a first-class maintenance
    * operator; the aggregate over the compacted copy proves the rewrite
    * changed bytes-on-disk layout, not data. StorageSpec pins the file
    * counts.
    */
  val compact: Q = (s, d) => {
    val dir = graft.Scratch.dir("graft_compact")
    Tables.events(s, d).repartition(64)
      .write.mode("overwrite").parquet(s"$dir/small")
    s.read.parquet(s"$dir/small")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/compacted")
    s.read.parquet(s"$dir/compacted")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .orderBy("event_type")
  }

  /** q82 — schema evolution on read: two ingestion batches, the newer one
    * carrying an extra column, unioned by `mergeSchema` — the standard
    * additive-evolution path for long-lived parquet datasets (older files
    * surface the new column as null; nothing is rewritten). The aggregate
    * sees both batches and the null-backfilled column.
    */
  val schemaEvolution: Q = (s, d) => {
    val dir = graft.Scratch.dir("graft_evolve")
    val o = Tables.orders(s, d)
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/batch=0")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        year(col("o_orderdate")).as("o_year")) // the evolved column
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    s.read.option("mergeSchema", "true").parquet(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        count(col("o_year")).as("n_with_year"),
        dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** q97 — sort-based data skipping: lineitem rewritten range-clustered on
    * l_shipdate (repartitionByRange + sortWithinPartitions), so every file
    * covers a narrow, disjoint date slice and parquet's per-rowgroup
    * min/max statistics let a date-range scan skip whole files/rowgroups
    * — the third write-time layout technique next to bucketing (q66,
    * join-key clustering) and directory partitioning (q67,
    * low-cardinality columns). Range clustering is what you use for
    * HIGH-cardinality ordered columns (timestamps) where one directory
    * per value is impossible; it is the same discipline as Delta/Iceberg
    * ORDER BY table layout. The aggregate over the clustered copy equals
    * the plain-table oracle — layout must never change answers.
    */
  val sortedLayout: Q = (s, d) => {
    val dir = graft.Scratch.dir("graft_sorted")
    Tables.lineitem(s, d)
      .repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
      .orderBy("l_returnflag")
  }

  /** q116 — Z-ORDER (Morton-curve) multi-column clustering: the write-time
    * layout for point/range lookups on TWO columns at once, where q97's
    * range clustering serves one. Each row's (l_partkey, l_suppkey) is
    * equi-width-quantized to a 3-bit cell per dimension (8×8 grid, bounds
    * from one tiny min/max aggregate broadcast back) and the two cell
    * coordinates interleave into a 6-bit Morton code; repartitionByRange +
    * sortWithinPartitions on that code gives every file a small contiguous
    * patch of the curve — so BOTH columns' per-rowgroup min/max stats stay
    * narrow and a conjunctive filter on either or both skips files. This
    * is Delta/Iceberg `OPTIMIZE ZORDER BY` re-expressed on plain parquet;
    * the quantize+interleave is pure integer div/mod arithmetic (no bit
    * ops, engine-exact, IEEE-free). The aggregate over the clustered copy
    * must equal the plain-table oracle — layout never changes answers.
    */
  private[graft] def zorderWrite(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val li = Tables.lineitem(s, d)
    val ext = li.agg(
      min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
      min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
    // spread(b) places b's 3 bits at even positions via div/mod; the part
    // cell shifts one position left so part/supp bits alternate
    val withZ = li.crossJoin(broadcast(ext))
      .withColumn("pb", expr(
        "CAST(((l_partkey - pmin) * 8) div (pmax - pmin + 1) AS INT)"))
      .withColumn("sb", expr(
        "CAST(((l_suppkey - smin) * 8) div (smax - smin + 1) AS INT)"))
      .withColumn("z", expr(
        "(pb % 2) * 2 + (pb div 2 % 2) * 8 + (pb div 4 % 2) * 32 + " +
          "(sb % 2) + (sb div 2 % 2) * 4 + (sb div 4 % 2) * 16"))
    val dir = graft.Scratch.dir("graft_zorder")
    withZ
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions("z")
      .select(li.columns.map(col): _*)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  val zorderLayout: Q = (s, d) => {
    s.read.parquet(zorderWrite(s, d))
      .filter(col("l_partkey").between(50, 150) &&
        col("l_suppkey").between(5, 15))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
      .orderBy("l_returnflag")
  }

  /** The order-3 Hilbert index over the q116 8×8 grid as ONE generated
    * SQL expression — the Wikipedia xy2d walk unrolled (s = 4, 2, 1)
    * into pure div/mod/CASE arithmetic (no bit ops, no UDF, engine-
    * exact), textually shared by the Spark plan and the DuckDB oracle
    * (only the integer-division token differs; both truncate toward
    * zero on these nonnegative cells). HilbertSpec pins that the
    * emitted expression IS a Hilbert curve: a bijection onto 0..63
    * whose consecutive codes are always one grid step apart — the
    * adjacency Morton provably lacks (z = 7 → 8 jumps (3,3) → (0,4)).
    */
  private[graft] def hilbertExpr(div: String): String = {
    var x = "pb"; var y = "sb"; var acc = "0"
    Seq(4, 2, 1).foreach { s =>
      val rx = s"((($x) $div $s) % 2)"
      val ry = s"((($y) $div $s) % 2)"
      acc = s"$acc + ${s * s} * (CASE WHEN $rx = 0 THEN $ry ELSE 3 - $ry END)"
      val xn = s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1" +
        s" THEN 7 - ($y) ELSE ($y) END) ELSE ($x) END)"
      val yn = s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1" +
        s" THEN 7 - ($x) ELSE ($x) END) ELSE ($y) END)"
      x = xn; y = yn
    }
    acc
  }

  /** q116's Morton interleave over the same grid, shared for q314's
    * side-by-side manifest. */
  private[graft] val mortonExpr =
    "(pb % 2) * 2 + (pb div 2 % 2) * 8 + (pb div 4 % 2) * 32 + " +
      "(sb % 2) + (sb div 2 % 2) * 4 + (sb div 4 % 2) * 16"

  /** q314 — HILBERT vs MORTON LAYOUT AUDIT: the locality comparison a
    * lakehouse OPTIMIZE decides with before picking its clustering
    * curve (Hilbert is what Databricks liquid clustering moved to; q116
    * ships the Morton write path). Both curves are evaluated on the
    * SAME 8×8 quantized (l_partkey, l_suppkey) grid, cells are packed
    * into files of 6 consecutive curve positions — deliberately NOT a
    * power of two, because power-of-two packing tiles both curves into
    * identical rectangles (measured: equal spans at 4 and 8 cells/file)
    * while real file boundaries never align to curve powers — and the
    * per-file min/max manifest (exactly Iceberg's column bounds) rolls
    * up to Σ span per dimension: the expected-files-touched proxy for a
    * range filter. Hilbert's adjacency keeps every 6-run compact where
    * Morton's bit-interleave jumps rip files across the grid (58 vs 74
    * total span cells on the uniform grid; the fixture's skew shifts
    * the numbers, not the winner).
    *
    * Scale shape: ONE corpus aggregate to the ≤64-cell histogram
    * (q209's value-histogram discipline); every curve evaluation,
    * bucket assignment, manifest row, and rollup runs on ≤64 rows —
    * the audit costs one scan regardless of corpus size. Bucketing is
    * `code div 6`, NOT repartitionByRange, so the oracle replays the
    * file assignment exactly (q260's lesson).
    */
  val hilbertAudit: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val ext = li.agg(
      min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
      min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
    // stage the ≤64-cell histogram: the two layout branches of the
    // union would otherwise each re-run the corpus aggregate
    val cells = graft.Scratch.stage("graft_hilbert",
      li.crossJoin(broadcast(ext))
        .select(expr(
          "CAST(((l_partkey - pmin) * 8) div (pmax - pmin + 1) AS INT)")
          .as("pb"),
          expr("CAST(((l_suppkey - smin) * 8) div (smax - smin + 1) AS INT)")
            .as("sb"))
        .groupBy("pb", "sb").agg(count(lit(1)).as("cnt")))
    val coded = cells.select(col("pb"), col("sb"), col("cnt"),
      expr(hilbertExpr("div")).as("h"), expr(mortonExpr).as("z"))
    val man = coded
      .select(lit("hilbert").as("layout"), expr("h div 6").as("bkt"),
        col("pb"), col("sb"), col("cnt"))
      .unionByName(coded.select(lit("morton").as("layout"),
        expr("z div 6").as("bkt"), col("pb"), col("sb"), col("cnt")))
      .groupBy("layout", "bkt")
      .agg((max("pb") - min("pb") + 1).as("pspan"),
        (max("sb") - min("sb") + 1).as("sspan"), sum("cnt").as("rows"))
    man.groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
        sum("pspan").cast("long").as("sum_pspan"),
        sum("sspan").cast("long").as("sum_sspan"),
        max("pspan").cast("long").as("worst_pspan"),
        max("sspan").cast("long").as("worst_sspan"),
        sum("rows").as("n_rows"))
      .orderBy("layout")
  }

  /** q260 — CLUSTERING-DEPTH layout audit: the metric Delta/Iceberg
    * OPTIMIZE decides with — how much do the per-partition min/max spans
    * of a layout's clustering column OVERLAP? Two physical layouts of
    * orders are written side by side (real partitioned parquet, read
    * back through the partition column): `clustered` buckets by
    * equi-width date quantization (q116's div-arithmetic quantizer — no
    * repartitionByRange, whose sampled boundaries an oracle can't
    * replay) and `hashed` buckets by o_orderkey % 8, the
    * worst-case-for-pruning layout every ingest-order table degrades
    * toward. Per layout, from the partition-level stats manifest (one
    * row per bucket — metadata-sized, exactly Iceberg's partition
    * bounds): overlap_pairs (span-intersecting pairs, the self-join is
    * O(F²) on FILE COUNT, never data), max_depth (max stabbing count at
    * a span's left endpoint — for closed intervals the max overlap is
    * attained at some lo), and sum_span_days (Σ per-bucket span — the
    * expected files-touched proxy: a clustered layout sums to ≈ the
    * domain, a hashed one to ≈ F × domain). Everything is exact integer
    * day arithmetic from one broadcast min/max extent; a planner
    * choosing which table copy to scan reads these 2 rows, not the
    * table.
    */
  val clusteringDepth: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("dt"))
    val ext = o.agg(min("dt").as("dmin"), max("dt").as("dmax"))
    val w = o.crossJoin(broadcast(ext))
      .withColumn("day", datediff(col("dt"), col("dmin")))
      .withColumn("span", datediff(col("dmax"), col("dmin")) + lit(1))
    val root = graft.Scratch.dir("graft_depth")
    w.withColumn("bkt", expr("CAST((day * 8) div span AS INT)"))
      .select("o_orderkey", "day", "bkt")
      .write.partitionBy("bkt").mode("overwrite").parquet(s"$root/clustered")
    w.withColumn("bkt", expr("CAST(o_orderkey % 8 AS INT)"))
      .select("o_orderkey", "day", "bkt")
      .write.partitionBy("bkt").mode("overwrite").parquet(s"$root/hashed")
    def manifest(name: String) = s.read.parquet(s"$root/$name")
      .groupBy(col("bkt").cast("int").as("bkt"))
      .agg(min("day").as("lo"), max("day").as("hi"))
      .withColumn("layout", lit(name))
    val st = manifest("clustered").unionByName(manifest("hashed"))
    val a = st.select(col("layout"), col("bkt"), col("lo"), col("hi"))
    val b = st.select(col("layout").as("layout2"), col("bkt").as("bkt2"),
      col("lo").as("lo2"), col("hi").as("hi2"))
    val pairs = a.join(b, col("layout") === col("layout2") &&
        col("bkt") < col("bkt2") &&
        col("lo") <= col("hi2") && col("lo2") <= col("hi"))
      .groupBy("layout").agg(count(lit(1)).as("overlap_pairs"))
    val depth = a.join(b, col("layout") === col("layout2") &&
        col("lo2") <= col("lo") && col("lo") <= col("hi2"))
      .groupBy("layout", "bkt").agg(count(lit(1)).as("dpt"))
      .groupBy("layout").agg(max("dpt").as("max_depth"))
    val spans = st.groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
        sum(col("hi") - col("lo") + lit(1)).as("sum_span_days"))
    spans.join(depth, Seq("layout"))
      .join(pairs, Seq("layout"), "left")
      .select(col("layout"), col("n_files"),
        coalesce(col("overlap_pairs"), lit(0L)).as("overlap_pairs"),
        col("max_depth"), col("sum_span_days"))
      .orderBy("layout")
  }

  /** q108 — incremental aggregate maintenance via mergeable partial state:
    * the materialized-view pattern every warehouse runs at 100 TB. A
    * pre-aggregated BASE (history before the cutoff) and a DELTA batch
    * (new arrivals) each carry only mergeable state — count, decimal sum,
    * min, max — and the refreshed view is a re-aggregation of the two
    * state tables: `merge(base, delta) ≡ recompute(all)` because every
    * component is associative+commutative. The merge touches O(groups)
    * rows, not O(history rows) — the whole point: a daily refresh re-reads
    * one day, never the 100 TB of history. The oracle IS the full
    * recompute, so the gate checks the algebraic identity itself. (avg is
    * derived sum/count at read time — never stored, since avg doesn't
    * merge.)
    */
  val mergeAgg: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    def partial(df: DataFrame): DataFrame =
      df.groupBy("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("cnt"),
        sum(dec2(col("l_quantity"))).as("sq"),
        min(col("l_extendedprice")).as("mn"),
        max(col("l_extendedprice")).as("mx"))
    val base = partial(li.filter(col("l_shipdate") < "1997-01-01"))
    val delta = partial(li.filter(col("l_shipdate") >= "1997-01-01"))
    base.unionByName(delta)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("cnt").as("n"),
        sum("sq").cast("double").as("sum_qty"),
        min("mn").as("min_price"),
        max("mx").as("max_price"))
      .withColumn("avg_qty", round(col("sum_qty") / col("n"), 4))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q182 — SHARD-RESIZE MOVEMENT AUDIT, rendezvous vs modulo: when a
    * sharded layout grows 8 → 10 shards, how many documents must move?
    * Rendezvous (highest-random-weight) hashing places a doc on
    * argmax_s mix(doc, s) — on resize only docs whose argmax lands on a
    * NEW shard move (expected 2/10 here), while `hash % n` remaps
    * everything whose hash differs mod 8 vs mod 10 (expected 1 − 8/40 =
    * 80%). This audit is the planner's input for choosing a re-shard
    * strategy: 4× less data motion is the difference between an online
    * rebalance and a full rewrite at 100 TB.
    *
    * Per-row arithmetic only — the candidate-shard fold is an array
    * expression over ≤ 10 elements (argmax packed as max(mix·16 + s), so
    * ties break deterministically toward the higher shard in both
    * engines), no join, no window; the movement matrix is one 2-row
    * map-side-combinable aggregate. The Knuth multiplicative mix
    * (doc + s·1000003)·2654435761 mod 2^32 stays inside exact BIGINT
    * range and is portable SQL (no engine hash() — those differ).
    */
  val rendezvousResize: Q = (s, d) => {
    def hrwShard(n: Int) = expr(
      s"""array_max(transform(sequence(0, ${n - 1}),
         |  s -> ((doc_id + s * 1000003) * 2654435761) % 4294967296 * 16
         |    + s)) % 16""".stripMargin.replace("\n", " "))
    val assigned = Tables.documents(s, d).select(col("doc_id"),
      hrwShard(8).as("hrw_old"), hrwShard(10).as("hrw_new"),
      expr("(doc_id * 2654435761) % 4294967296 % 8").as("mod_old"),
      expr("(doc_id * 2654435761) % 4294967296 % 10").as("mod_new"))
    assigned.select(
        explode(expr("""array(
          |  named_struct('scheme', 'mod',
          |    'moved', CAST(mod_old <> mod_new AS INT)),
          |  named_struct('scheme', 'rendezvous',
          |    'moved', CAST(hrw_old <> hrw_new AS INT)))"""
          .stripMargin.replace("\n", " "))).as("x"))
      .select(col("x.scheme").as("scheme"), col("x.moved").as("moved"))
      .groupBy("scheme")
      .agg(count(lit(1)).as("n_docs"), sum("moved").cast("long").as("n_moved"))
      .withColumn("moved_ppm", expr("n_moved * 1000000 div n_docs"))
      .orderBy("scheme")
  }

  /** q197 — BACKFILL GAP PLANNER: which calendar days are MISSING from a
    * date-partitioned table, reported as contiguous gap islands — the
    * work-list a backfill scheduler executes and the check a freshness
    * SLO runs after every load. Present days reduce to a DISTINCT-day
    * frame (calendar-bounded, q173's cardinality discipline), the
    * expected calendar is a generated `sequence` over the span (never a
    * stored table), missing = one anti-join of two calendar-sized
    * frames, and the island grouping is the gaps-and-islands date−rank
    * trick (q141's span merge) on the missing-day frame. Nothing in the
    * plan ever re-touches table rows after the first distinct.
    */
  val backfillGaps: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("day")).distinct()
    val expected = days.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val missing = expected.join(days, Seq("day"), "left_anti")
    missing
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .withColumn("grp", expr("date_sub(day, rn)"))
      .groupBy("grp")
      .agg(min("day").as("gap_start"), max("day").as("gap_end"),
        count(lit(1)).as("n_days"))
      .select("gap_start", "gap_end", "n_days")
      .orderBy("gap_start")
  }

  /** q268 tombstone rule (doc_id % [[dvMod]] == [[dvTomb]]) and bucket
    * count — a DIFFERENT tombstone set than q248's, so the two delete
    * paths never share fixtures. */
  private[graft] val dvMod = 53L
  private[graft] val dvTomb = 17L
  private[graft] val dvBuckets = 8L

  /** q268 — DELETION-VECTOR merge-on-read: the OTHER half of the lakehouse
    * delete story. q248 is copy-on-write (rewrite the affected files, reads
    * stay plain scans); this is Iceberg-v2/Delta-DV merge-on-read — the
    * base files are NEVER rewritten (StorageSpec pins them md5-identical
    * across the delete), deletes live as per-file POSITION bitmaps, and
    * every read probes the bitmap. The trade a 100 TB table chooses when
    * deletes are frequent and rewrite amplification is the bottleneck;
    * q248 remains the compaction endgame that eventually folds DVs in.
    *
    * Mechanics: documents lay out bucketed by doc_id % [[dvBuckets]] (one
    * file per bucket); a row's POSITION is its rank by doc_id within its
    * bucket — deterministic, so build and probe (and the DuckDB oracle)
    * derive identical positions, and the output's del_pos_checksum
    * certifies the rank parity, not just the surviving id set. The DV is
    * a per-bucket sorted position array (a RoaringBitmap stands in here
    * as sort_array(collect_list) — the plumbing, not the compression, is
    * what's under test); it is METADATA-sized (≤ deleted rows per file),
    * so the read path attaches it by BROADCAST and filters with a bitmap
    * probe — no per-row anti-join shuffle, the whole point of DVs.
    * Output: per-bucket (n_rows, n_deleted, del_pos_checksum,
    * live_id_checksum), the audit a table-format maintenance job emits.
    * (The rank window here SIMULATES what the file format gives the
    * reader for free — file-physical positions; its per-bucket sort is
    * the simulation's cost, not the operator's.)
    */
  val deletionVectors: Q = (s, d) => dvRun(s, d)._2

  /** The q268 body, returning the base-layout root alongside the report so
    * StorageSpec can pin the merge-on-read contract on the SAME layout the
    * report read: tombstoned rows still on disk, broadcast DV probe. */
  private[graft] def dvRun(s: org.apache.spark.sql.SparkSession,
      d: String): (String, DataFrame) = {
    val root = graft.Scratch.dir("graft_dv")
    Tables.documents(s, d).select(col("doc_id"),
        (col("doc_id") % dvBuckets).as("bkt"))
      .write.partitionBy("bkt").mode("overwrite").parquet(root)
    val base = s.read.parquet(root)
      .select(col("doc_id"), col("bkt").cast("long").as("bkt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy("doc_id")
    val withPos = base.withColumn("pos",
      (row_number().over(w) - 1).cast("long"))
    // Probe cost, stated honestly: array_contains is a LINEAR scan per
    // row — O(rows × deletions-per-bucket) — despite the DV arriving
    // pre-sorted via sort_array. Fine at a few-percent delete fraction
    // (the lakehouse norm between compactions; here |dv| ≈ rows/dvMod),
    // but the probe is the first thing to swap as deletes grow: the DV is
    // already sorted precisely so a binary-search expression — or the
    // RoaringBitmap container a real format (Delta/Iceberg) serializes,
    // whose `contains` is O(1) per probe — drops in without touching the
    // build side. Spark ships no array_binary_search builtin, and a
    // custom Expression for a fixture-scale probe fails the measure-first
    // bar; the seam is this one withColumn.
    val dv = withPos.filter(col("doc_id") % dvMod === dvTomb)
      .groupBy("bkt").agg(sort_array(collect_list(col("pos"))).as("dv"))
    val live = withPos.join(broadcast(dv), Seq("bkt"), "left")
      .withColumn("deleted",
        coalesce(array_contains(col("dv"), col("pos")), lit(false)))
    val report = live.groupBy("bkt").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("deleted"), 1L).otherwise(0L)).as("n_deleted"),
        sum(when(col("deleted"), col("pos")).otherwise(0L))
          .as("del_pos_checksum"),
        sum(when(!col("deleted"), col("doc_id")).otherwise(0L))
          .as("live_id_checksum"))
      .orderBy("bkt")
    (root, report)
  }

  /** q281 tree geometry: 256 leaf buckets, fan-in 16 → 3 levels
    * (leaf 0, mid 1, root 2). Production trees deepen (e.g. 2^20 leaves,
    * fan-in 32 → 5 levels) without changing the per-level plan. */
  private[graft] val merkleLeaves = 256L
  private[graft] val merkleFanIn = 16L

  /** q281 digest modulus (1e9+7): per-row digests reduce below it before
    * the commutative sum, so a leaf bucket overflows BIGINT only past
    * ~9.2e9 rows — loud to document, absurd to hit at 256-way bucketing
    * of any table this tree would verify (re-leaf first). */
  private[graft] val merkleP = 1000000007L

  /** q281 — MERKLE-TREE SNAPSHOT DIFF: the O(log)-localization
    * complement to q71's merge and the row-level full-outer diff the CDC
    * derivation runs — comparing two 100 TB replicas row by row shuffles
    * both tables whole, but comparing their digest TREES reads O(levels)
    * metadata rows and descends only into mismatched subtrees (the
    * content-verification shape Delta/Iceberg manifests and replication
    * repair both use; Merkle 1979). The change set is a FIXED md5-ranked
    * sample of 12 keys (6 repriced +5% in integer cents, 6 deleted) —
    * scale-free by construction, because localization is the regime the
    * tree exists for: replaying the row-level diff's density here
    * (measured) dirties all 273 nodes and the tree degenerates to a full
    * compare, exactly the case a repair job escalates out of.
    *
    * Mechanics: row digest = md5(key:cents) folded to BIGINT mod
    * [[merkleP]] (prices as exact integer cents — a DECIMAL-to-string
    * round-trip would be an engine-divergence trap); bucket = key mod
    * [[merkleLeaves]] (key-addressed, so an edit stays in its bucket and
    * membership changes move exactly one bucket per key); node digest =
    * commutative sum mod [[merkleP]] of its rows (order-independence is
    * what makes the digest partitioning-invariant), parents sum their
    * children. Each snapshot is ONE scan + three map-side-combinable
    * aggregates; the diff is a full outer join of two metadata-sized
    * digest tables (≤ 273 rows/side), absent nodes coalescing to the
    * empty digest 0. Output: mismatched nodes only, root first — the
    * repair worklist, O(changed buckets · levels) rows at EVERY fixture
    * scale. StorageSpec pins the Merkle law: a mismatched leaf's
    * ancestors all mismatch, and the mismatched leaf set is exactly the
    * buckets holding changed keys.
    */
  /** The q281/q295 row-digest expression: md5(key:cents) folded to a
    * 60-bit BIGINT mod [[merkleP]], parameterized on the cents column so
    * the maintenance delta can digest old and new values. */
  private[graft] def merkleDg(k: String, c: String): String =
    s"""CAST(conv(substring(md5(concat_ws(':', CAST($k AS STRING),
       |  CAST($c AS STRING))), 1, 15), 16, 10) AS BIGINT) % $merkleP"""
      .stripMargin

  private[graft] def merkleKeyed(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey").as("key"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))

  /** The 12 changed keys: md5-ranked (the q257/q259 pick discipline);
    * the rank window runs AFTER the 12-cut, the q158 bounded-frame
    * rule. rn ≤ 6 reprice +5%, rn > 6 delete — shared by q281/q295 so
    * the diff and the maintenance see the SAME change set. */
  private[graft] def merkleRanked(keyed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    keyed.select("key")
      .orderBy(md5(col("key").cast("string")), col("key")).limit(12)
      .withColumn("rn", row_number().over(
        Window.orderBy(md5(col("key").cast("string")), col("key"))))
  }

  private[graft] def merkleLevels(snap: DataFrame): DataFrame = {
    val leaf = snap.select((col("key") % merkleLeaves).as("node"),
        expr(merkleDg("key", "cents")).as("dg"))
      .groupBy("node")
      .agg((sum("dg") % merkleP).as("digest"), count(lit(1)).as("n_rows"))
    val mid = leaf.groupBy(expr(s"node div $merkleFanIn").as("node"))
      .agg((sum("digest") % merkleP).as("digest"), sum("n_rows").as("n_rows"))
    val root = mid.groupBy(lit(0L).as("node"))
      .agg((sum("digest") % merkleP).as("digest"), sum("n_rows").as("n_rows"))
    leaf.select(lit(0).as("level"), col("node"), col("digest"), col("n_rows"))
      .unionByName(mid.select(lit(1).as("level"), col("node"),
        col("digest"), col("n_rows")))
      .unionByName(root.select(lit(2).as("level"), col("node"),
        col("digest"), col("n_rows")))
  }

  val merkleDiff: Q = (s, d) => {
    val keyed = merkleKeyed(s, d)
    val ranked = merkleRanked(keyed)
    val snapA = keyed
    val snapB = keyed
      .join(broadcast(ranked.filter(col("rn") > 6).select("key")),
        Seq("key"), "left_anti")
      .join(broadcast(ranked.filter(col("rn") <= 6).select("key")
        .withColumn("is_r", lit(true))), Seq("key"), "left")
      .select(col("key"),
        when(col("is_r"), expr("cents * 21 div 20"))
          .otherwise(col("cents")).as("cents"))
    val a = merkleLevels(snapA).withColumnsRenamed(
      Map("digest" -> "digest_a", "n_rows" -> "n_rows_a"))
    val b = merkleLevels(snapB).withColumnsRenamed(
      Map("digest" -> "digest_b", "n_rows" -> "n_rows_b"))
    a.join(b, Seq("level", "node"), "full_outer")
      .select(col("level"), col("node"),
        coalesce(col("n_rows_a"), lit(0L)).as("n_rows_a"),
        coalesce(col("n_rows_b"), lit(0L)).as("n_rows_b"),
        coalesce(col("digest_a"), lit(0L)).as("digest_a"),
        coalesce(col("digest_b"), lit(0L)).as("digest_b"))
      .filter(col("digest_a") =!= col("digest_b") ||
        col("n_rows_a") =!= col("n_rows_b"))
      .orderBy(col("level").desc, col("node"))
  }

  /** The q295 stored index: snapshot A's full digest tree (level, node,
    * digest, n_rows) memoized per input dir — the artifact a maintenance
    * job owns
    * between CDC batches. */
  private val merkleTreeCache = new graft.Scratch.PerDir[String]

  private[graft] def merkleTreeDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    merkleTreeCache(d)(
      graft.Scratch.write("graft_merkle_tree", merkleLevels(merkleKeyed(s, d))))

  /** q295 — INCREMENTAL MERKLE MAINTENANCE: the repair-job regime
    * q281's Scaladoc names — instead of REBUILDING snapshot B's tree
    * (a full scan per verification cycle), update the STORED tree from
    * the change set alone. The commutative mod-[[merkleP]] digest makes
    * the update a pure delta: each changed key contributes
    * (new_dg − old_dg) to its leaf (deletes contribute −old_dg and
    * −1 row), dirty leaves sum into their parents, parents into the
    * root — O(changed keys + dirty nodes · levels) arithmetic on
    * metadata-sized frames, NEVER a corpus re-scan (the harness derives
    * the q281 change set from the base table, one scan standing in for
    * the CDC feed that hands a real pipeline its deltas). Output: the
    * FULL maintained tree (≤ 273 rows) with old/new digests and the
    * dirty flag — the oracle rebuilds snapshot B from scratch in
    * DuckDB, so the hash match IS the incremental ≡ full proof;
    * StorageSpec additionally pins q295's dirty rows ≡ q281's mismatch
    * worklist node for node.
    */
  /** The three-level (level, node, ddg, dn) delta fold over a change
    * batch of (key, cents, new_cents | NULL = delete) rows — the ONE
    * implementation of the mod-p Merkle update algebra, shared by q295's
    * one-shot maintenance and q299's per-micro-batch streaming folds (a
    * divergence here would silently break the stream ≡ incremental
    * identity StreamingSpec pins). */
  private[graft] def merkleDeltaLevels(delta: DataFrame): DataFrame = {
    val leafDelta = delta
      .select((col("key") % merkleLeaves).as("node"),
        expr(merkleDg("key", "cents")).as("old_dg"),
        when(col("new_cents").isNotNull,
          expr(merkleDg("key", "new_cents"))).otherwise(lit(0L)).as("new_dg"),
        when(col("new_cents").isNull, lit(-1L)).otherwise(lit(0L)).as("dn"))
      .groupBy("node")
      .agg(sum(col("new_dg") - col("old_dg")).as("ddg"), sum("dn").as("dn"))
    val midDelta = leafDelta
      .groupBy(expr(s"node div $merkleFanIn").as("node"))
      .agg(sum("ddg").as("ddg"), sum("dn").as("dn"))
    val rootDelta = leafDelta.groupBy(lit(0L).as("node"))
      .agg(sum("ddg").as("ddg"), sum("dn").as("dn"))
    leafDelta.withColumn("level", lit(0))
      .unionByName(midDelta.withColumn("level", lit(1)))
      .unionByName(rootDelta.withColumn("level", lit(2)))
  }

  val merkleMaintain: Q = (s, d) => {
    val keyed = merkleKeyed(s, d)
    val ranked = merkleRanked(keyed)
    val tree = graft.Scratch.read(s, merkleTreeDir(s, d))
    val delta = keyed.join(broadcast(ranked), Seq("key"))
      .select(col("key"), col("cents"),
        when(col("rn") <= 6, expr("cents * 21 div 20")).as("new_cents"))
    val allDelta = merkleDeltaLevels(delta)
    tree.join(broadcast(allDelta), Seq("level", "node"), "left")
      .select(col("level"), col("node"),
        col("digest").as("digest_old"), col("n_rows").as("n_rows_old"),
        pmod(col("digest") + coalesce(col("ddg"), lit(0L)), lit(merkleP))
          .as("digest_new"),
        (col("n_rows") + coalesce(col("dn"), lit(0L))).as("n_rows_new"))
      .withColumn("dirty", col("digest_old") =!= col("digest_new") ||
        col("n_rows_old") =!= col("n_rows_new"))
      .orderBy(col("level").desc, col("node"))
  }

  def queries: Map[String, Q] = Map(
    "q295_merkle_maintain" -> merkleMaintain,
    "q281_merkle_diff" -> merkleDiff,
    "q268_deletion_vectors" -> deletionVectors,
    "q197_backfill_gaps" -> backfillGaps,
    "q182_rendezvous_resize" -> rendezvousResize,
    "q108_merge_agg" -> mergeAgg,
    "q97_sorted_layout" -> sortedLayout,
    "q116_zorder_layout" -> zorderLayout,
    "q314_hilbert_audit" -> hilbertAudit,
    "q260_clustering_depth" -> clusteringDepth,
    "q98_xml_roundtrip" -> xmlRoundtrip,
    "q66_bucketed_join" -> bucketedJoin,
    "q67_partition_prune" -> partitionPrune,
    "q121_dynamic_prune" -> dynamicPrune,
    "q124_incremental_read" -> incrementalRead,
    "q206_gc_audit" -> gcAudit,
    "q221_incremental_refresh" -> incrementalRefresh,
    "q227_schema_drift" -> schemaDrift,
    "q134_time_travel" -> timeTravel,
    "q135_zonemap_skip" -> zoneMapSkip,
    "q157_bloom_skip" -> bloomSkip,
    "q163_partition_digest" -> partitionDigest,
    "q211_repair_plan" -> repairPlan,
    "q166_encoding_advisor" -> encodingAdvisor,
    "q69_jsonl_source" -> jsonlRoundtrip,
    "q70_orc_roundtrip" -> orcRoundtrip,
    "q93_csv_roundtrip" -> csvRoundtrip,
    "q81_compact" -> compact,
    "q82_schema_evolution" -> schemaEvolution)

  /** Shared q281/q295 oracle CTEs: snapshot tree (leaf/mid/root with
    * UNION'd levels) and the base-pair (a0 = orders as (key, cents),
    * rk = the 12 md5-ranked change keys, b0 = reprice-6/delete-6). */
  private def duckMerkleSnap(tag: String, src: String): String =
    s"""${tag}l AS (SELECT key % $merkleLeaves AS node,
       |    ('0x' || substr(md5(CAST(key AS VARCHAR) || ':' ||
       |      CAST(cents AS VARCHAR)), 1, 15))::BIGINT % 1000000007 AS dg
       |  FROM $src),
       |${tag}1 AS (SELECT node, CAST(sum(dg) % 1000000007 AS BIGINT)
       |    AS digest, count(*) AS n_rows FROM ${tag}l GROUP BY 1),
       |${tag}2 AS (SELECT node // $merkleFanIn AS node,
       |    CAST(sum(digest) % 1000000007 AS BIGINT) AS digest,
       |    CAST(sum(n_rows) AS BIGINT) AS n_rows FROM ${tag}1 GROUP BY 1),
       |${tag}3 AS (SELECT CAST(0 AS BIGINT) AS node,
       |    CAST(sum(digest) % 1000000007 AS BIGINT) AS digest,
       |    CAST(sum(n_rows) AS BIGINT) AS n_rows FROM ${tag}2),
       |${tag}all AS (
       |  SELECT CAST(0 AS INT) AS level, node, digest, n_rows FROM ${tag}1
       |  UNION ALL SELECT CAST(1 AS INT), node, digest, n_rows FROM ${tag}2
       |  UNION ALL SELECT CAST(2 AS INT), node, digest, n_rows FROM ${tag}3)"""
      .stripMargin

  private def duckMerkleBase: String =
    s"""a0 AS (SELECT o_orderkey AS key,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS cents
       |  FROM orders),
       |rk AS MATERIALIZED (SELECT key,
       |    row_number() OVER (ORDER BY md5(CAST(key AS VARCHAR)), key)
       |      AS rn
       |  FROM (SELECT key FROM a0
       |    ORDER BY md5(CAST(key AS VARCHAR)), key LIMIT 12)),
       |b0 AS (SELECT k.key,
       |    CASE WHEN r.rn <= 6 THEN (k.cents * 21) // 20
       |      ELSE k.cents END AS cents
       |  FROM a0 k LEFT JOIN rk r ON k.key = r.key
       |  WHERE NOT EXISTS (SELECT 1 FROM rk d
       |    WHERE d.key = k.key AND d.rn > 6))""".stripMargin

  def oracles: Map[String, String] = Map(
    // the identical digest algebra per snapshot (md5 folded to a 60-bit
    // BIGINT mod 1e9+7, commutative sums up three levels — sums pass
    // through HUGEINT in DuckDB, hence the CASTs) over the q125 planted
    // snapshot pair, then the same metadata-sized full outer join
    // the same two snapshot trees rebuilt from scratch — the engine
    // side never rebuilds B, so the hash match IS the incremental ≡
    // full proof; LEFT join from the A (stored) node universe
    "q295_merkle_maintain" ->
      s"""WITH $duckMerkleBase,
         |${duckMerkleSnap("a", "a0")},
         |${duckMerkleSnap("b", "b0")}
         |SELECT a.level, a.node,
         |  a.digest AS digest_old, a.n_rows AS n_rows_old,
         |  coalesce(b.digest, 0) AS digest_new,
         |  coalesce(b.n_rows, 0) AS n_rows_new,
         |  (a.digest <> coalesce(b.digest, 0)
         |    OR a.n_rows <> coalesce(b.n_rows, 0)) AS dirty
         |FROM aall a LEFT JOIN ball b
         |  ON a.level = b.level AND a.node = b.node
         |ORDER BY a.level DESC, a.node""".stripMargin,
    "q281_merkle_diff" -> {
      s"""WITH $duckMerkleBase,
         |${duckMerkleSnap("a", "a0")},
         |${duckMerkleSnap("b", "b0")}
         |SELECT coalesce(a.level, b.level) AS level,
         |  coalesce(a.node, b.node) AS node,
         |  coalesce(a.n_rows, 0) AS n_rows_a, coalesce(b.n_rows, 0) AS n_rows_b,
         |  coalesce(a.digest, 0) AS digest_a, coalesce(b.digest, 0) AS digest_b
         |FROM aall a FULL OUTER JOIN ball b
         |  ON a.level = b.level AND a.node = b.node
         |WHERE coalesce(a.digest, 0) <> coalesce(b.digest, 0)
         |   OR coalesce(a.n_rows, 0) <> coalesce(b.n_rows, 0)
         |ORDER BY level DESC, node""".stripMargin
    },
    // identical deterministic positions (rank by doc_id within bucket),
    // identical tombstone rule — del_pos_checksum certifies the rank
    // parity, live_id_checksum the surviving set
    "q268_deletion_vectors" ->
      s"""WITH b AS (SELECT doc_id, doc_id % $dvBuckets AS bkt,
         |    CAST(row_number() OVER (PARTITION BY doc_id % $dvBuckets
         |      ORDER BY doc_id) - 1 AS BIGINT) AS pos,
         |    (doc_id % $dvMod = $dvTomb) AS deleted
         |  FROM documents)
         |SELECT bkt, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_deleted,
         |  CAST(sum(CASE WHEN deleted THEN pos ELSE 0 END) AS BIGINT)
         |    AS del_pos_checksum,
         |  CAST(sum(CASE WHEN NOT deleted THEN doc_id ELSE 0 END) AS BIGINT)
         |    AS live_id_checksum
         |FROM b GROUP BY bkt ORDER BY bkt""".stripMargin,
    "q197_backfill_gaps" ->
      """WITH days AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day
        |  FROM orders),
        |sp AS (SELECT min(day) AS lo, max(day) AS hi FROM days),
        |exp AS (SELECT CAST(unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM sp),
        |miss AS (SELECT e.day FROM exp e LEFT JOIN days p
        |  ON e.day = p.day WHERE p.day IS NULL),
        |g AS (SELECT day, day - CAST(row_number() OVER (ORDER BY day)
        |    AS INT) AS grp FROM miss)
        |SELECT min(day) AS gap_start, max(day) AS gap_end,
        |  count(*) AS n_days
        |FROM g GROUP BY grp ORDER BY 1""".stripMargin,
    "q182_rendezvous_resize" ->
      """WITH a AS (SELECT doc_id,
        |    list_max(list_transform(range(0, 8), s ->
        |      ((doc_id + s * 1000003) * 2654435761) % 4294967296 * 16
        |        + s)) % 16 AS hrw_old,
        |    list_max(list_transform(range(0, 10), s ->
        |      ((doc_id + s * 1000003) * 2654435761) % 4294967296 * 16
        |        + s)) % 16 AS hrw_new,
        |    (doc_id * 2654435761) % 4294967296 % 8 AS mod_old,
        |    (doc_id * 2654435761) % 4294967296 % 10 AS mod_new
        |  FROM documents),
        |u AS (SELECT 'mod' AS scheme,
        |    CASE WHEN mod_old <> mod_new THEN 1 ELSE 0 END AS moved FROM a
        |  UNION ALL
        |  SELECT 'rendezvous' AS scheme,
        |    CASE WHEN hrw_old <> hrw_new THEN 1 ELSE 0 END AS moved FROM a)
        |SELECT scheme, count(*) AS n_docs,
        |  CAST(sum(moved) AS BIGINT) AS n_moved,
        |  CAST(sum(moved) AS BIGINT) * 1000000 // count(*) AS moved_ppm
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // merge(base partial-state, delta partial-state) must equal the full
    // recompute — the oracle is the recompute
    "q108_merge_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | min(l_extendedprice) AS min_price,
        | max(l_extendedprice) AS max_price,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   / count(*), 4) AS avg_qty
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q98_xml_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus = 'P'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // the z-ordered copy must aggregate identically to the plain table
    "q116_zorder_layout" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem
        |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 5 AND 15
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // the SAME generated Hilbert/Morton arithmetic (÷ token swapped), the
    // same explicit code-div-6 packing — the manifest itself is checked,
    // not a query through it (q260's convention)
    "q314_hilbert_audit" ->
      s"""WITH ext AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
         |    min(l_suppkey) AS smin, max(l_suppkey) AS smax FROM lineitem),
         |cells AS (SELECT
         |    CAST(((l_partkey - pmin) * 8) // (pmax - pmin + 1) AS INT)
         |      AS pb,
         |    CAST(((l_suppkey - smin) * 8) // (smax - smin + 1) AS INT)
         |      AS sb,
         |    count(*) AS cnt
         |  FROM lineitem, ext GROUP BY 1, 2),
         |coded AS (SELECT pb, sb, cnt,
         |    ${hilbertExpr("//")} AS h,
         |    ${mortonExpr.replace(" div ", " // ")} AS z
         |  FROM cells),
         |man AS (SELECT layout, bkt,
         |    max(pb) - min(pb) + 1 AS pspan,
         |    max(sb) - min(sb) + 1 AS sspan,
         |    sum(cnt) AS nr
         |  FROM (SELECT 'hilbert' AS layout, h // 6 AS bkt, pb, sb, cnt
         |      FROM coded
         |    UNION ALL SELECT 'morton', z // 6, pb, sb, cnt FROM coded)
         |  GROUP BY 1, 2)
         |SELECT layout, count(*) AS n_files,
         |  CAST(sum(pspan) AS BIGINT) AS sum_pspan,
         |  CAST(sum(sspan) AS BIGINT) AS sum_sspan,
         |  CAST(max(pspan) AS BIGINT) AS worst_pspan,
         |  CAST(max(sspan) AS BIGINT) AS worst_sspan,
         |  CAST(sum(nr) AS BIGINT) AS n_rows
         |FROM man GROUP BY 1 ORDER BY 1""".stripMargin,
    // the bucket assignment is pure div/mod arithmetic, so the oracle
    // recomputes the partition-level manifest and its overlap audit
    // exactly — the metric itself is checked, not just a query through it
    "q260_clustering_depth" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS dt
        |  FROM orders),
        |ext AS (SELECT min(dt) AS dmin, max(dt) AS dmax FROM o),
        |w AS (SELECT o_orderkey,
        |    datediff('day', dmin, dt) AS day,
        |    datediff('day', dmin, dmax) + 1 AS span
        |  FROM o, ext),
        |st AS (
        |  SELECT 'clustered' AS layout,
        |      CAST((day * 8) // span AS INT) AS bkt,
        |      min(day) AS lo, max(day) AS hi
        |    FROM w GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'hashed', CAST(o_orderkey % 8 AS INT),
        |      min(day), max(day)
        |    FROM w GROUP BY 1, 2),
        |pairs AS (SELECT a.layout, count(*) AS overlap_pairs
        |  FROM st a JOIN st b ON a.layout = b.layout AND a.bkt < b.bkt
        |    AND a.lo <= b.hi AND b.lo <= a.hi
        |  GROUP BY 1),
        |dep AS (SELECT a.layout, a.bkt, count(*) AS dpt
        |  FROM st a JOIN st b ON a.layout = b.layout
        |    AND b.lo <= a.lo AND a.lo <= b.hi
        |  GROUP BY 1, 2),
        |mx AS (SELECT layout, CAST(max(dpt) AS BIGINT) AS max_depth
        |  FROM dep GROUP BY 1),
        |sp AS (SELECT layout, count(*) AS n_files,
        |    CAST(sum(hi - lo + 1) AS BIGINT) AS sum_span_days
        |  FROM st GROUP BY 1)
        |SELECT sp.layout, sp.n_files,
        |  CAST(coalesce(pairs.overlap_pairs, 0) AS BIGINT) AS overlap_pairs,
        |  mx.max_depth, sp.sum_span_days
        |FROM sp JOIN mx ON sp.layout = mx.layout
        |  LEFT JOIN pairs ON pairs.layout = sp.layout
        |ORDER BY sp.layout""".stripMargin,
    // the range-clustered copy must aggregate identically to the plain table
    "q97_sorted_layout" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // identical result to the unbucketed q52 join — layout must not change
    // answers, only plans
    "q66_bucketed_join" -> OracleSql.priorityRevenueQuery,
    // the manifest diff must equal the second batch's logical predicate
    "q124_incremental_read" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderdate >= '1997-01-01'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // the diff is pinned by the staged projections and the fixture's
    // footer types — a structural contract, like q206's file counts
    "q227_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('o_custkey', 'bigint', '-', 'removed'),
        |  ('o_orderkey', 'bigint', 'bigint', 'unchanged'),
        |  ('o_orderpriority', '-', 'string', 'added'),
        |  ('o_totalprice', 'double', 'decimal(18,2)', 'retyped'))
        |  AS t(column_name, type_v1, type_v2, status)
        |ORDER BY column_name""".stripMargin,
    // merge ≡ recompute: the manifest-driven refresh must equal the
    // plain aggregate over the whole table
    "q221_incremental_refresh" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | min(o_orderdate) AS first_date, max(o_orderdate) AS last_date,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |   // count(*) AS avg_cents
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // file counts are structural constants (coalesce widths pinned in the
    // operator); the ROW math is the check — the live manifest must reach
    // the whole table, the orphans exactly the rewritten first batch
    "q206_gc_audit" ->
      """SELECT CAST(5 AS BIGINT) AS n_files_disk,
        | CAST(3 AS BIGINT) AS n_files_live, CAST(2 AS BIGINT) AS n_orphans,
        | (SELECT count(*) FROM orders) AS rows_live,
        | (SELECT count(*) FROM orders WHERE o_orderdate < '1997-01-01')
        |   AS rows_orphan""".stripMargin,
    // version-2 manifest math must equal the first two batches' predicate
    "q134_time_travel" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderdate < '1997-01-01'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // zone-map pruning + residual filter ≡ the plain interval predicate
    "q166_encoding_advisor" ->
      """SELECT 'l_returnflag' AS col_name, n, ndv,
        |  top1 * 1000000 // n AS top1_share_ppm,
        |  CAST(sw // n AS BIGINT) AS entropy_unat,
        |  CASE WHEN ndv * 10 <= n THEN 'dict' ELSE 'plain' END AS advice
        |FROM (SELECT count(*) AS ndv, max(n) AS n, max(c) AS top1,
        |    sum(c::HUGEINT * CAST(round(ln(n::DOUBLE / c) * 1000000) AS BIGINT)) AS sw
        |  FROM (SELECT c, (SELECT count(*) FROM lineitem) AS n FROM
        |    (SELECT CAST(l_returnflag AS VARCHAR) AS v, count(*) AS c
        |     FROM lineitem GROUP BY 1)))
        |UNION ALL
        |SELECT 'l_linestatus' AS col_name, n, ndv,
        |  top1 * 1000000 // n AS top1_share_ppm,
        |  CAST(sw // n AS BIGINT) AS entropy_unat,
        |  CASE WHEN ndv * 10 <= n THEN 'dict' ELSE 'plain' END AS advice
        |FROM (SELECT count(*) AS ndv, max(n) AS n, max(c) AS top1,
        |    sum(c::HUGEINT * CAST(round(ln(n::DOUBLE / c) * 1000000) AS BIGINT)) AS sw
        |  FROM (SELECT c, (SELECT count(*) FROM lineitem) AS n FROM
        |    (SELECT CAST(l_linestatus AS VARCHAR) AS v, count(*) AS c
        |     FROM lineitem GROUP BY 1)))
        |UNION ALL
        |SELECT 'l_quantity' AS col_name, n, ndv,
        |  top1 * 1000000 // n AS top1_share_ppm,
        |  CAST(sw // n AS BIGINT) AS entropy_unat,
        |  CASE WHEN ndv * 10 <= n THEN 'dict' ELSE 'plain' END AS advice
        |FROM (SELECT count(*) AS ndv, max(n) AS n, max(c) AS top1,
        |    sum(c::HUGEINT * CAST(round(ln(n::DOUBLE / c) * 1000000) AS BIGINT)) AS sw
        |  FROM (SELECT c, (SELECT count(*) FROM lineitem) AS n FROM
        |    (SELECT CAST(l_quantity AS VARCHAR) AS v, count(*) AS c
        |     FROM lineitem GROUP BY 1)))
        |UNION ALL
        |SELECT 'l_partkey' AS col_name, n, ndv,
        |  top1 * 1000000 // n AS top1_share_ppm,
        |  CAST(sw // n AS BIGINT) AS entropy_unat,
        |  CASE WHEN ndv * 10 <= n THEN 'dict' ELSE 'plain' END AS advice
        |FROM (SELECT count(*) AS ndv, max(n) AS n, max(c) AS top1,
        |    sum(c::HUGEINT * CAST(round(ln(n::DOUBLE / c) * 1000000) AS BIGINT)) AS sw
        |  FROM (SELECT c, (SELECT count(*) FROM lineitem) AS n FROM
        |    (SELECT CAST(l_partkey AS VARCHAR) AS v, count(*) AS c
        |     FROM lineitem GROUP BY 1)))
        |UNION ALL
        |SELECT 'l_extendedprice' AS col_name, n, ndv,
        |  top1 * 1000000 // n AS top1_share_ppm,
        |  CAST(sw // n AS BIGINT) AS entropy_unat,
        |  CASE WHEN ndv * 10 <= n THEN 'dict' ELSE 'plain' END AS advice
        |FROM (SELECT count(*) AS ndv, max(n) AS n, max(c) AS top1,
        |    sum(c::HUGEINT * CAST(round(ln(n::DOUBLE / c) * 1000000) AS BIGINT)) AS sw
        |  FROM (SELECT c, (SELECT count(*) FROM lineitem) AS n FROM
        |    (SELECT CAST(l_extendedprice AS VARCHAR) AS v, count(*) AS c
        |     FROM lineitem GROUP BY 1)))
        |ORDER BY col_name""".stripMargin,
    "q163_partition_digest" ->
      """WITH h AS (SELECT l_returnflag AS flag,
        |  ('0x' || substr(md5(concat_ws('|',
        |    l_orderkey, l_linenumber, l_quantity)), 1, 15))::BIGINT AS h
        |  FROM lineitem)
        |SELECT flag, count(*) AS n_rows,
        |  CAST(sum(h) % 2305843009213693951 AS BIGINT) AS digest
        |FROM h GROUP BY 1 ORDER BY flag""".stripMargin,
    // both replicas derive from orders with the same deterministic drift
    // rule, so the oracle recomputes both digest tables directly
    "q211_repair_plan" ->
      """WITH rows_k AS (SELECT o_orderpriority AS part, o_orderkey, o_custkey,
        |    ('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
        |      CAST(round(o_totalprice * 100) AS BIGINT))), 1, 15))::BIGINT AS h
        |  FROM orders),
        |a AS (SELECT part, count(*) AS rows_a,
        |    CAST(sum(h) % 2305843009213693951 AS BIGINT) AS digest_a
        |  FROM rows_k GROUP BY 1),
        |b AS (SELECT part, count(*) AS rows_b,
        |    CAST(sum(h) % 2305843009213693951 AS BIGINT) AS digest_b
        |  FROM rows_k
        |  WHERE NOT (o_orderkey % 500 = 0 AND part = '3-MEDIUM')
        |  GROUP BY 1)
        |SELECT part, COALESCE(rows_a, 0) AS rows_a,
        |  COALESCE(rows_b, 0) AS rows_b, digest_a, digest_b,
        |  COALESCE(digest_a, -1) <> COALESCE(digest_b, -2) AS needs_repair,
        |  COALESCE(rows_a, 0) - COALESCE(rows_b, 0) AS row_delta
        |FROM a FULL OUTER JOIN b USING (part) ORDER BY part""".stripMargin,
    "q157_bloom_skip" ->
      """SELECT l_orderkey, count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT DISTINCT l_orderkey FROM lineitem ORDER BY 1 LIMIT 5)
        |GROUP BY 1 ORDER BY l_orderkey""".stripMargin,
    "q135_zonemap_skip" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= '1995-06-01' AND o_orderdate <= '1996-06-01'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // join against the closed-status dim ≡ an IN filter on the fact
    "q121_dynamic_prune" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus IN ('F', 'P')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q67_partition_prune" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q69_jsonl_source" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "q93_csv_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q70_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice > 100000
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // compaction must preserve the data exactly
    "q81_compact" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // older batch surfaces the evolved column as null → count(o_year)
    // sees only odd keys
    "q82_schema_evolution" ->
      """SELECT o_orderstatus, count(*) AS n,
        | count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_with_year,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)
}
