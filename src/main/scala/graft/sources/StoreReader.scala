package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

import graft.core.Executer

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
  * contract the engine's own snapshot readers rely on. The manifest
  * wire format is decoded by [[graft.core.Executer.decodeManifest]],
  * the ONE codec shared with the engine, so reader and writer cannot
  * drift. GC keeps a replaced file for `manifestRetention` generations
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

  private def readCurrent(fs: FileSystem, root: Path): Long = {
    val cur = new Path(root, "_current")
    if (!fs.exists(cur)) -1L
    else {
      val in = new java.io.DataInputStream(fs.open(cur))
      try in.readLong() finally in.close()
    }
  }

  /** The store's current published generation, or -1 when none. */
  def currentVersion(spark: SparkSession, storePath: String): Long = {
    val (fs, root) = fsFor(spark, storePath)
    readCurrent(fs, root)
  }

  /** The resolved snapshot at `version` (default: the current
    * generation). None when the store has nothing published yet (reads
    * empty); a legacy listing-based store is refused loudly. */
  private def snapOf(fs: FileSystem, root: Path,
      version: Long): Option[graft.core.Snapshot] = {
    val v = if (version >= 0L) version else readCurrent(fs, root)
    if (v < 0L) {
      // Nothing published (or a first build still in flight): empty
      // results, key column only — the payload schema lives in the
      // engine's task type, which an external reader deliberately does
      // not know. The gate throws on a legacy store instead.
      if (Executer.isPublished(fs, root)) snapOf(fs, root, version)
      else None
    } else {
      val in = new java.io.DataInputStream(
        fs.open(new Path(root, s"_manifests/m$v")))
      Some(try Executer.decodeManifest(in) finally in.close())
    }
  }

  /** The generation's live file lists, store-relative: (level-2
    * finals, schema-salvage candidates) — the salvage list backs a
    * generation whose finals came out EMPTY (keys deleted): level-1
    * partials and map_results rows both carry the finals' (reduce_key,
    * payload) column pair. None when the store has no published
    * generation (fresh: reads empty; legacy: refused loudly). */
  private def liveTreeFiles(fs: FileSystem, root: Path,
      version: Long): Option[(Vector[String], Vector[String])] =
    snapOf(fs, root, version).map { snap =>
      val tree = snap.live.getOrElse("reduce_tree", Vector.empty)
      val salvage =
        if (tree.nonEmpty) tree
        else snap.live.getOrElse("map_results", Vector.empty)
      (tree.filter(_.startsWith("reduce_tree/level=2/")), salvage)
    }

  private def readFiles(spark: SparkSession, root: Path,
      files: Vector[String]): DataFrame =
    spark.read
      .option("basePath", new Path(root, "reduce_tree").toString)
      .parquet(files.map(f => new Path(root, f).toString): _*)
      .select(col("reduce_key"), col("payload.*"))

  /** EMPTY results with the engine's queryAll column layout, inferred
    * from any live salvage file — level-1 partials and map_results rows
    * both carry the (reduce_key, payload) pair — at `limit(0)` footer
    * cost. A FULLY drained generation (every key deleted, so neither
    * table holds a live file) degrades to the key-only frame: the
    * payload schema exists nowhere on disk an external reader may
    * trust, only in the engine's task type. */
  private def emptyWithSchema(spark: SparkSession, root: Path,
      salvage: Vector[String]): DataFrame =
    if (salvage.isEmpty) emptyFinals(spark)
    else spark.read
      .option("basePath",
        new Path(root, Executer.tableOf(salvage.head)).toString)
      .parquet(salvage.map(f => new Path(root, f).toString): _*)
      .select(col("reduce_key"), col("payload.*"))
      .limit(0)

  /** The final results ([[graft.core.Executer]]`.queryAll`'s shape:
    * `reduce_key` + the reduce output's columns) at `version`,
    * defaulting to the current generation. The returned plan is PINNED
    * to that generation's immutable file list — concurrent writer
    * mutations never tear or shift it, and no lease or lock is taken. */
  def finals(spark: SparkSession, storePath: String,
      version: Long = -1L): DataFrame = {
    val (fs, root) = fsFor(spark, storePath)
    liveTreeFiles(fs, root, version) match {
      case Some((files, _)) if files.nonEmpty => readFiles(spark, root, files)
      case Some((_, tree)) => emptyWithSchema(spark, root, tree)
      case None => emptyFinals(spark)
    }
  }

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
    * resolved then ([[graft.core.Executer.readKeysDriver]]): the result
    * is local, and its `collect` runs no Spark job. The payload schema
    * comes from ONE parquet footer, never an inference job — a miss
    * (every requested partition empty: provably no rows) opens that
    * footer and no data file. Partitions past the driver-read gate are
    * served by the pruned Spark plan over the same generation instead.
    * Rows interleave across keys; absent keys contribute none. */
  def keysQuery(spark: SparkSession, storePath: String, keys: Seq[String],
      version: Long = -1L): DataFrame =
    keysRead(spark, storePath, keys, version).df

  /** A [[keysQuery]] result with what it read: the one file whose
    * footer gave the schema, and the data files opened (empty when the
    * Spark plan served the read). */
  private[graft] final case class KeysRead(df: DataFrame,
      footer: Option[Path], opened: Seq[Path])

  /** [[keysQuery]], reporting the files it read. */
  private[graft] def keysRead(spark: SparkSession, storePath: String,
      keys: Seq[String], version: Long): KeysRead = {
    val (fs, root) = fsFor(spark, storePath)
    snapOf(fs, root, version) match {
      case None => KeysRead(emptyFinals(spark), None, Nil)
      case Some(snap) =>
        val files = Executer.finalFilesOf(snap, layoutOf(fs, root).map(_._2), keys)
        val schemaFile = schemaFileOf(snap, files).map(new Path(root, _))
        val driver = for {
          schema <- schemaFile.flatMap(footerSchema(spark, _))
          (df, opened) <-
            Executer.readKeysDriver(spark, fs, root, files, keys, schema)
        } yield KeysRead(df.select(col("reduce_key") +:
            schema("payload").dataType.asInstanceOf[StructType].fieldNames
              .toSeq.map(f => col(s"payload.$f")): _*), schemaFile, opened)
        driver.getOrElse(
          KeysRead(keysPlan(spark, root, snap, files, keys), schemaFile, Nil))
    }
  }

  /** The Spark-plan spelling of [[keysQuery]] — what its driver read
    * falls back to past the gate: a scan planned over the keys' final
    * files with the schema inferred from them. */
  private[graft] def keysQueryPlan(spark: SparkSession, storePath: String,
      keys: Seq[String], version: Long = -1L): DataFrame = {
    val (fs, root) = fsFor(spark, storePath)
    snapOf(fs, root, version) match {
      case None => emptyFinals(spark)
      case Some(snap) => keysPlan(spark, root, snap,
        Executer.finalFilesOf(snap, layoutOf(fs, root).map(_._2), keys), keys)
    }
  }

  /** [[keysQueryPlan]] over a resolved generation and its key files. A
    * miss (no file: provably no rows, same key → same fpart on write)
    * plans ONE schema file at limit(0) footer cost, never the full
    * listing. */
  private def keysPlan(spark: SparkSession, root: Path,
      snap: graft.core.Snapshot, files: Vector[String],
      keys: Seq[String]): DataFrame =
    if (files.nonEmpty)
      readFiles(spark, root, files).where(col("reduce_key").isin(keys: _*))
    else emptyWithSchema(spark, root, schemaFileOf(snap, files).toVector)

  /** One live file carrying the (reduce_key, payload) pair, for a key
    * read's schema: a hit's own file first, else any final file, else —
    * every key deleted — a level-1 partial or a map_results file. None
    * for a FULLY drained generation, whose payload schema exists
    * nowhere on disk an external reader may trust. */
  private def schemaFileOf(snap: graft.core.Snapshot,
      files: Vector[String]): Option[String] = {
    val tree = snap.live.getOrElse("reduce_tree", Vector.empty)
    files.headOption
      .orElse(tree.find(_.startsWith("reduce_tree/level=2/")))
      .orElse(tree.headOption)
      .orElse(snap.live.getOrElse("map_results", Vector.empty).headOption)
  }

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

  /** The (reduce_key, payload) data schema of a Spark-written parquet
    * file, from the Spark schema JSON in its footer — as a parquet scan
    * reports it (all nullable). None when the footer carries no Spark
    * schema: the caller's Spark plan infers one. */
  private def footerSchema(spark: SparkSession, p: Path): Option[StructType] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p,
        spark.sparkContext.hadoopConfiguration))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally reader.close()
    Option(json).map { j =>
      val all = DataType.fromJson(j).asInstanceOf[StructType]
      Executer.readNullable(StructType(
        Seq(all("reduce_key"), all("payload")))).asInstanceOf[StructType]
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
    snapOf(fs, root, version) match {
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
    snapOf(fs, root, version) match {
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
    * from — the external twin of the engine's `changedHorizonVersion`
    * (records below it were pruned by `compact()`). −1 on a
    * never-compacted store. A polling fleet checks this BEFORE asking,
    * exactly like [[graft.streaming.CdcConsumer]] does engine-side. */
  def changedHorizon(spark: SparkSession, storePath: String): Long = {
    val (fs, root) = fsFor(spark, storePath)
    val h = new Path(root, "changed/_horizon")
    if (!fs.exists(h)) -1L
    else {
      val in = new java.io.DataInputStream(fs.open(h))
      try in.readLong() finally in.close()
    }
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
      sinceVersion: Long, version: Long = -1L): DataFrame = {
    val (fs, root) = fsFor(spark, storePath)
    snapOf(fs, root, version) match {
      case None =>
        require(sinceVersion == -1L,
          s"store has no published generations; sinceVersion must be -1, " +
            s"got $sinceVersion")
        emptyFinals(spark)
      case Some(snap) =>
        val cur = snap.version
        require(sinceVersion >= -1 && sinceVersion <= cur,
          s"sinceVersion must be in [-1, $cur], got $sinceVersion")
        val h = changedHorizon(spark, storePath)
        if (sinceVersion < h) throw new IllegalStateException(
          s"changed-keys records up to generation $h have been pruned by " +
            s"compact(); cannot answer since=$sinceVersion — refetch " +
            "everything")
        val vs = (sinceVersion + 1) to cur
        val localKeys = vs.flatMap { v =>
          val p = new Path(root, s"changed/c$v")
          if (!fs.exists(p)) Nil
          else {
            val in = new java.io.DataInputStream(fs.open(p))
            try Executer.decodeKeyList(in) finally in.close()
          }
        }
        val distDirs = vs.map(v => new Path(root, s"changed/v$v"))
          .filter(fs.exists)
        // Re-check the horizon AFTER enumerating records (code-review
        // r15): a concurrent compact() writes the horizon BEFORE
        // deleting records, so a record file that vanished mid-read
        // shows up here as a horizon past sinceVersion — without this,
        // the missing generations silently contributed Nil and the
        // poller's cache went stale with no error, the exact
        // "never silently under-reports" violation the engine-side
        // contract forbids.
        val h2 = changedHorizon(spark, storePath)
        if (sinceVersion < h2) throw new IllegalStateException(
          s"changed-keys records were pruned concurrently (horizon now " +
            s"$h2); cannot answer since=$sinceVersion — refetch everything")
        import spark.implicits._
        // Local records only: de-duplicated on the driver, no job.
        if (distDirs.isEmpty) localKeys.distinct.toDF("reduce_key")
        // One multi-path scan, not a unionByName fold: a per-directory
        // fold costs one scan node + file index per polled generation
        // in driver-side analysis (the engine-side changedKeysIn
        // spelling, same reasoning).
        else localKeys.toDF("reduce_key").unionByName(
          spark.read.schema("reduce_key STRING")
            .parquet(distDirs.map(_.toString): _*)).distinct()
    }
  }

  /** Engine-free BEFORE/AFTER change feed — the external twin of
    * [[graft.core.Executer.diffSince]]: one row per key touched in
    * `(sinceVersion, upper]` with `change_type`
    * ('insert' | 'update' | 'delete'), the key's payload at
    * `sinceVersion` (`old_*`, NULL on insert) and at the upper
    * generation (`new_*`, NULL on delete). Composed entirely from the
    * other external reads — [[changedKeysSince]] for the key set,
    * [[keysQuery]] pinned at each generation for the images — so both
    * sides are immutable snapshot reads pruned to ≤|keys|/finalParts of
    * the table, and the upper generation is resolved ONCE at entry
    * (keys, before and after can never mix generations under a racing
    * writer).
    *
    * Two loud refusals, mirroring the engine's own contracts:
    *   - churn past `maxChurnKeys` (the external spelling of the
    *     engine's driver-dirty bound): at that churn a full resync is
    *     the better consumer strategy anyway;
    *   - a store whose keys carry MULTIPLE output rows — the engine
    *     refuses via `task.singleOutput`, which an external reader
    *     cannot know, so this checks EACH image side for a duplicated
    *     key (two bounded O(churn) aggregations) before returning the
    *     lazy joined plan; a per-side check cannot be masked by other
    *     changed keys' row counts the way a joined-total check could
    *     (code-review r15). The guard makes this call eager, unlike
    *     the engine's lazy plan — acceptable for a poll surface whose
    *     result is O(churn) rows, and the returned plan itself is
    *     consumed exactly once by the caller. */
  def diffSince(spark: SparkSession, storePath: String, sinceVersion: Long,
      version: Long = -1L, maxChurnKeys: Int = 16384): DataFrame = {
    require(sinceVersion >= 0,
      s"diffSince needs a published base generation, got $sinceVersion")
    val (fs, root) = fsFor(spark, storePath)
    val cur = if (version >= 0L) version else readCurrent(fs, root)
    if (cur < 0L) throw new UnsupportedOperationException(
      "diffSince: the store has no published generation yet")
    val keys = changedKeysSince(spark, storePath, sinceVersion, cur)
      .limit(maxChurnKeys + 1).collect().map(_.getString(0)).toSeq
    if (keys.length > maxChurnKeys) throw new IllegalStateException(
      s"diffSince: churn exceeds $maxChurnKeys keys — poll more often, " +
        "or full-resync via finals()")
    // Zero churn needs no old images — resolve the before side at the
    // pinned CURRENT generation instead of `sinceVersion`, whose
    // manifest a compact() may have reclaimed. Non-empty churn needs
    // them, and a reclaimed manifest gets the engine's own
    // deterministic refusal, not a bare FileNotFound (both surfaces'
    // spelling pinned equal by StoreReaderChurnProps).
    if (keys.nonEmpty &&
        !fs.exists(new Path(root, s"_manifests/m$sinceVersion")))
      throw new IllegalStateException(
        s"diffSince: generation $sinceVersion's manifest was reclaimed " +
          "by compact() — old images unavailable; consume " +
          "changedKeysSince + keysQuery, or full-resync from finals()")
    val before = keysQuery(spark, storePath, keys,
      if (keys.isEmpty) cur else sinceVersion)
    val after = keysQuery(spark, storePath, keys, cur)
    // Per-SIDE ambiguity guard (code-review r15): the previous
    // joined-total check (rows > |keys|) could be masked by changed
    // keys with no image on either side (inserted-then-deleted inside
    // the window), letting a multi-output key's arbitrarily-paired
    // images through. A duplicated key on either side is detected
    // directly, unmaskable.
    import org.apache.spark.sql.functions.{count => fcount, lit, when}
    Seq("old" -> before, "new" -> after).foreach { case (side, df) =>
      val dup = df.groupBy(col("reduce_key")).agg(fcount(lit(1)) as "n")
        .where(col("n") > 1).limit(1).collect()
      if (dup.nonEmpty) throw new IllegalStateException(
        s"diffSince: key '${dup.head.getString(0)}' has multiple output " +
          s"rows on the $side side, so before/after images cannot be " +
          "paired by reduce_key; use changedKeysSince + keysQuery")
    }
    // Payload schema from whichever side still HOLDS one: a fully
    // drained generation (every key deleted, no live file to salvage)
    // degrades that side to the key-only frame, and deriving the diff
    // columns from it alone silently dropped the OTHER side's images
    // (a delete-everything window lost its old_* columns — found by
    // StoreReaderChurnProps). The degraded side conforms with typed
    // nulls, matching the engine's own null images.
    val donor = if (after.columns.length > 1) after else before
    val fieldSchema = donor.schema.fields.toSeq.filterNot(_.name == "reduce_key")
    def side(df: DataFrame, prefix: String, flag: String): DataFrame = {
      val have = df.columns.toSet
      df.select((col("reduce_key") +: fieldSchema.map(f =>
        (if (have(f.name)) col(f.name) else lit(null).cast(f.dataType))
          .as(s"${prefix}_${f.name}"))) :+ lit(true).as(flag): _*)
    }
    val b = side(before, "old", "_was")
    val a = side(after, "new", "_is")
    b.join(a, Seq("reduce_key"), "full_outer")
      .withColumn("change_type",
        when(col("_was").isNull, "insert")
          .when(col("_is").isNull, "delete")
          .otherwise("update"))
      .drop("_was", "_is")
  }

  /** [[finals]] as a named temp view for SQL-only clients — pinned at
    * registration to ONE generation (a temp view captures the plan and
    * with it the file list); re-register to follow the head. */
  def registerView(spark: SparkSession, storePath: String, name: String,
      version: Long = -1L): Unit =
    finals(spark, storePath, version).createOrReplaceTempView(name)
}
