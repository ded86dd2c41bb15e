package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.{Executer, StoreSnapshot}

/** Lock-free external reads of a PUBLISHED store generation — the
  * recipe any vanilla Spark job (or SQL client via [[registerView]])
  * can run without constructing an [[graft.core.Executer]], taking a
  * lease, or coordinating with the writer. Before this, a reader fleet
  * had to link the engine and construct an `Executer` per store; now a
  * plain `spark.read` client consumes a maintained index like any other
  * parquet dataset, at a consistent snapshot, while the owning process
  * keeps churning.
  *
  * Protocol (SURVEY §14): resolve `_current` → `_manifests/m<v>` → the
  * exact live file list of `reduce_tree` level=2 (the final results).
  * Data files are immutable and never change path, so the resolved plan
  * stays valid no matter how many mutations land after it — the same
  * contract the engine's own snapshot readers rely on. The protocol is
  * read by [[graft.core.StoreSnapshot]], the one read layer the engine
  * uses too: key reads, [[changedKeysSince]] and [[diffSince]] run the
  * engine's own code, given what an external reader knows (`_config`'s
  * `finalParts`, the payload schema from a parquet footer), so reader
  * and writer cannot drift. GC keeps a replaced file for `manifestRetention` generations
  * AND `manifestGraceMs` after retirement, so a plan resolved from the
  * current generation has at least that long to be consumed; a
  * long-lived client re-resolves (or re-registers its view) to follow
  * the head.
  *
  * Reads final results ([[finals]]/[[pointQuery]]/[[keysQuery]] — the
  * reference's whole query surface, `MapReduce/Executer.cs:370-377`;
  * the key reads fetch their rows on the driver at call time)
  * and, since r15, by-key provenance ([[contributors]]), which carries
  * the merge-on-read tombstone overlay externally via the shared
  * tombstone codec — so a reader fleet wanting provenance no longer
  * links the engine either.
  *
  * A store with no manifest layer (the retired listing-based layout) is
  * refused loudly, by the same gate and message as the engine
  * ([[graft.core.Executer.isPublished]]).
  */
object StoreReader {
  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def emptyFinals(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("reduce_key", StringType))))

  /** The store's current published generation, or -1 when none. */
  def currentVersion(spark: SparkSession, storePath: String): Long = {
    val (fs, root) = fsFor(spark, storePath)
    StoreSnapshot.currentVersion(fs, root)
  }

  /** Generation `version` (default: the current one) through the shared
    * read layer, with what an external reader knows: `finalParts` from
    * the store's `_config` (read at the first key read), and the payload
    * schema from a parquet footer. None when the store has nothing
    * published yet (reads empty); a legacy listing-based store is
    * refused loudly. */
  private[graft] def snapshot(spark: SparkSession, storePath: String,
      version: Long): Option[StoreSnapshot] = {
    val (fs, root) = fsFor(spark, storePath)
    StoreSnapshot.resolve(fs, root, version).map(snap =>
      new StoreSnapshot(spark, fs, root, snap, layoutOf(fs, root).map(_._2),
        None, v => StoreSnapshot.manifest(fs, root, v)))
  }

  /** A (reduce_key, payload) read spread to `reduce_key` + the payload
    * columns — the engine's `queryAll` layout. A fully drained
    * generation reads key-only: there is no payload to spread. */
  private def spread(df: DataFrame): DataFrame =
    if (df.columns.contains("payload"))
      df.select(col("reduce_key"), col("payload.*"))
    else df

  /** The final results ([[graft.core.Executer]]`.queryAll`'s shape:
    * `reduce_key` + the reduce output's columns) at `version`,
    * defaulting to the current generation. The returned plan is PINNED
    * to that generation's immutable file list — concurrent writer
    * mutations never tear or shift it, and no lease or lock is taken.
    * The payload schema comes from one parquet footer; a generation
    * whose finals are all deleted keeps the columns from a level-1 or
    * map_results footer, and one with no live file at all reads
    * key-only (the payload schema then exists nowhere on disk an
    * external reader may trust, only in the engine's task type). */
  def finals(spark: SparkSession, storePath: String,
      version: Long = -1L): DataFrame =
    snapshot(spark, storePath, version)
      .fold(emptyFinals(spark))(s => spread(s.finalsPlan))

  /** One key's final value — the reference's entire query surface
    * (`MapReduce/Executer.cs:370-377`) as an engine-free read that
    * prunes EXACTLY like the engine's own `query`: [[keysQuery]] of the
    * one key. */
  def pointQuery(spark: SparkSession, storePath: String, key: String,
      version: Long = -1L): DataFrame =
    keysQuery(spark, storePath, Seq(key), version)

  /** Several keys' final values — the multi-key generalization of
    * [[pointQuery]] (the engine's `queryKeys`), as `reduce_key` + the
    * reduce output's columns. Reads at most |distinct fparts of keys| ≤
    * |keys| of the finalParts partitions: a key's partition comes from
    * the shared hash ([[graft.core.Executer.fpartHash]]) with
    * `finalParts` read from the store's persisted `_config`, so
    * 1/finalParts of the table per key at any store size (a store
    * predating `_config` reads every final file — correct, unpruned).
    * The rows are read at call time, on the driver, from the generation
    * resolved then — the engine's own key read
    * ([[graft.core.StoreSnapshot.keysRead]]): the result is local, and
    * its `collect` runs no Spark job. The payload schema comes from ONE
    * parquet footer, never an inference job — a miss (every requested
    * partition empty: provably no rows) opens that footer and no data
    * file. Partitions past the driver-read gate are served by the pruned
    * Spark plan over the same generation instead. Rows interleave across
    * keys; absent keys contribute none. */
  def keysQuery(spark: SparkSession, storePath: String, keys: Seq[String],
      version: Long = -1L): DataFrame =
    snapshot(spark, storePath, version)
      .fold(emptyFinals(spark))(s => spread(s.keysRead(keys).df))

  /** The store's persisted (fanIn, finalParts) layout (`_config`);
    * None on a store predating it. */
  private def layoutOf(fs: FileSystem, root: Path): Option[(Int, Int)] = {
    val cfg = new Path(root, "_config")
    if (!fs.exists(cfg)) None
    else {
      val in = new java.io.DataInputStream(fs.open(cfg))
      Some(try (in.readInt(), in.readInt()) finally in.close())
    }
  }

  /** Engine-free provenance — which documents feed reduce key `key`,
    * and through which map bucket: the external twin of
    * [[graft.core.Executer.contributors]] (the reference's by-key
    * map-result enumeration, `MapReduce/Executer.cs:305-334`). This is
    * the one external read that needs the MERGE-ON-READ overlay: map
    * rows are invalidated by tombstones, not rewritten, so a raw file
    * read would resurrect deleted/updated documents. The overlay is
    * resolved from the SAME snapshot as the data files (mixing
    * generations could transiently vanish docs — the engine's own
    * `readMapResults` discipline) via the shared codecs
    * ([[graft.core.Executer.decodeTombFile]]): the manifest's local
    * tombstone file plus its distributed tombstone parquet, max-merged
    * per doc, broadcast against the key-filtered map scan. A row
    * survives iff no tombstone for its doc is newer than the batch that
    * wrote it (`seq >= tomb_seq`). The tombstone set is bounded by the
    * engine's `tombstoneLimit` auto-fold, so the broadcast is safe by
    * construction at any store size; the map scan is pruned by
    * row-group stats on `reduce_key` (files are written sorted by it).
    */
  def contributors(spark: SparkSession, storePath: String, key: String,
      version: Long = -1L): DataFrame = {
    val (fs, root) = fsFor(spark, storePath)
    val emptyContrib = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("doc_id", StringType),
        StructField("bucket", org.apache.spark.sql.types.IntegerType))))
    StoreSnapshot.resolve(fs, root, version) match {
      case None => emptyContrib
      case Some(snap) =>
        val files = snap.live.getOrElse("map_results", Vector.empty)
        if (files.isEmpty) emptyContrib
        else {
          val rows = spark.read
            .option("basePath", new Path(root, "map_results").toString)
            .parquet(files.map(f => new Path(root, f).toString): _*)
            .where(col("reduce_key") === key)
          liveMapRows(spark, fs, root, snap, rows)
            .select(col("doc_id"), col("bucket"))
        }
    }
  }

  /** Apply the snapshot's merge-on-read tombstone overlay to a
    * `map_results` scan — the shared spelling behind [[contributors]]
    * and [[contributionsOf]]: the manifest's local tombstone file plus
    * its distributed tombstone parquet, max-merged per doc, broadcast
    * against the scan; a row survives iff no tombstone for its doc is
    * newer than the batch that wrote it (`seq >= tomb_seq`). */
  private def liveMapRows(spark: SparkSession, fs: FileSystem, root: Path,
      snap: graft.core.Snapshot, rows: DataFrame): DataFrame = {
    val local: Seq[(String, Int)] = snap.tombLocal.map { rel =>
      val in = new java.io.DataInputStream(
        fs.open(new Path(root, rel)))
      try Executer.decodeTombFile(in) finally in.close()
    }.getOrElse(Nil)
    val distFiles = snap.live.getOrElse("tombstones", Vector.empty)
    val tomb: Option[DataFrame] =
      (local.nonEmpty, distFiles.nonEmpty) match {
        case (false, false) => None
        case _ =>
          import spark.implicits._
          val localDf = local.toDF("doc_id", "tomb_seq")
          val all =
            if (distFiles.isEmpty) localDf
            else {
              val dist = spark.read.parquet(
                distFiles.map(f => new Path(root, f).toString): _*)
              if (local.isEmpty) dist else localDf.unionByName(dist)
            }
          Some(all.groupBy(col("doc_id"))
            .agg(org.apache.spark.sql.functions.max(col("tomb_seq"))
              .as("tomb_seq")))
      }
    tomb match {
      case None => rows
      case Some(t) =>
        rows.join(org.apache.spark.sql.functions.broadcast(t),
            Seq("doc_id"), "left")
          .where(col("tomb_seq").isNull || col("seq") >= col("tomb_seq"))
    }
  }

  /** Reverse provenance, engine-free: every (reduce key, bucket) a
    * document feeds — [[graft.core.Executer.contributionsOf]]'s twin
    * (reference `Executer.cs:245-250`). Prunes to ONE map partition:
    * the doc's parent is a pure function of its normalized id
    * ([[graft.core.Executer.parentOf]], fanIn read from the persisted
    * `_config`), so the plan reads 1/fanIn of `map_results` at any
    * store size, through the same tombstone overlay as
    * [[contributors]]. A store predating `_config` falls back to the
    * full map file list (correct, unpruned). */
  def contributionsOf(spark: SparkSession, storePath: String, docId: String,
      version: Long = -1L): DataFrame = {
    val (fs, root) = fsFor(spark, storePath)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("reduce_key", StringType),
        StructField("bucket", org.apache.spark.sql.types.IntegerType))))
    StoreSnapshot.resolve(fs, root, version) match {
      case None => empty
      case Some(snap) =>
        val files = snap.live.getOrElse("map_results", Vector.empty)
        if (files.isEmpty) empty
        else {
          val id = Executer.normDocId(docId)
          val pruned = layoutOf(fs, root) match {
            case None => files
            case Some((fanIn, _)) =>
              val parent = Executer.parentOf(id, fanIn)
              files.filter(_.startsWith(s"map_results/parent=$parent/"))
          }
          if (pruned.isEmpty) empty
          else {
            val rows = spark.read
              .option("basePath", new Path(root, "map_results").toString)
              .parquet(pruned.map(f => new Path(root, f).toString): _*)
              .where(col("doc_id") === id)
            liveMapRows(spark, fs, root, snap, rows)
              .select(col("reduce_key"), col("bucket"))
          }
        }
    }
  }

  /** The oldest base generation [[changedKeysSince]] can still answer
    * from — the engine's `changedHorizonVersion`, by the same read
    * (records below it were pruned by `compact()`). −1 on a
    * never-compacted store. A polling fleet checks this BEFORE asking,
    * exactly like [[graft.streaming.CdcConsumer]] does engine-side. */
  def changedHorizon(spark: SparkSession, storePath: String): Long = {
    val (fs, root) = fsFor(spark, storePath)
    StoreSnapshot.horizon(fs, root)
  }

  /** Engine-free CDC polling — DISTINCT reduce keys touched by any
    * mutation published in generations `(sinceVersion, upper]` (upper =
    * `version`, default the current generation): with [[keysQuery]]
    * this closes the reference's full consumption loop for a reader
    * fleet — poll invalidations, refetch O(churn) keys at the engine's
    * partition pruning — with NO Executer, lease, or coordination.
    * Safe by the engine's publish ordering: a generation's changed-keys
    * record lands BEFORE its `_current` flip, so any published upper
    * bound has complete records behind it, and records for published
    * generations are immutable. Asking below the pruning horizon fails
    * loudly ([[changedHorizon]] lets a poller decide first); a fresh
    * store answers empty for since = −1. The records are read at call
    * time; a window whose every generation has only a local record is
    * answered as a local result whose `collect` runs no Spark job. */
  def changedKeysSince(spark: SparkSession, storePath: String,
      sinceVersion: Long, version: Long = -1L): DataFrame =
    snapshot(spark, storePath, version) match {
      case None =>
        require(sinceVersion == -1L,
          s"store has no published generations; sinceVersion must be -1, " +
            s"got $sinceVersion")
        emptyFinals(spark)
      case Some(s) => s.changedKeys(sinceVersion)
    }

  /** Engine-free BEFORE/AFTER change feed — the same feed as
    * [[graft.core.Executer.diffSince]], from the same code
    * ([[graft.core.StoreSnapshot.diffSince]]): one row per key touched
    * in `(sinceVersion, upper]` with `change_type` ('insert' | 'update'
    * | 'delete'), the key's payload at `sinceVersion` (`old_*`, NULL on
    * insert) and at the upper generation (`new_*`, NULL on delete). The
    * upper generation is resolved ONCE at entry, so keys, before and
    * after never mix generations under a racing writer; both images are
    * [[keysQuery]]-shaped reads pinned at their generation, paired by
    * key on the driver into a local result read at call time.
    *
    * Two loud refusals (IllegalStateException):
    *   - churn past `maxChurnKeys` (the external spelling of the
    *     engine's driver-dirty bound): at that churn a full resync is
    *     the better consumer strategy anyway;
    *   - a key with MULTIPLE output rows on either side: the engine
    *     refuses multi-output tasks via `task.singleOutput`, which an
    *     external reader cannot know, so the pairing checks each side's
    *     rows for a duplicated key instead. */
  def diffSince(spark: SparkSession, storePath: String, sinceVersion: Long,
      version: Long = -1L, maxChurnKeys: Int = 16384): DataFrame = {
    require(sinceVersion >= 0,
      s"diffSince needs a published base generation, got $sinceVersion")
    val head = snapshot(spark, storePath, version).getOrElse(
      throw new UnsupportedOperationException(
        "diffSince: the store has no published generation yet"))
    val keys = head.changedKeys(sinceVersion)
      .limit(maxChurnKeys + 1).collect().map(_.getString(0)).toSeq
    if (keys.length > maxChurnKeys) throw new IllegalStateException(
      s"diffSince: churn exceeds $maxChurnKeys keys — poll more often, " +
        "or full-resync via finals()")
    head.diffSince(sinceVersion, keys)
  }

  /** [[finals]] as a named temp view for SQL-only clients — pinned at
    * registration to ONE generation (a temp view captures the plan and
    * with it the file list); re-register to follow the head. */
  def registerView(spark: SparkSession, storePath: String, name: String,
      version: Long = -1L): Unit =
    finals(spark, storePath, version).createOrReplaceTempView(name)
}
