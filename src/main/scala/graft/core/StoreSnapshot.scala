package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** One published generation of a store, read through the on-disk read
  * protocol (SURVEY §14). The ONE reader of that protocol, shared by
  * the engine ([[Executer]]) and the engine-free reader
  * ([[graft.sources.StoreReader]]), so both surfaces answer every
  * published-generation read with the same code:
  *   - the generation: `_current` → `_manifests/m<v>`
  *     ([[StoreSnapshot.resolve]]);
  *   - key reads ([[keysRead]]): the keys' final partitions read on the
  *     driver, with one Spark-plan fallback ([[keysPlan]]) past
  *     [[Executer.DriverTreeReadMaxBytes]]; the external reader's whole
  *     final table ([[finalsPlan]]) is the same plan without the keys;
  *   - the changed-keys window ([[changedKeys]]): the `changed/c<v>` and
  *     `changed/v<v>` records, under `changed/_horizon` checks made
  *     before AND after listing them;
  *   - the before/after feed ([[diffSince]]): the window's keys read at
  *     both generations, paired by key on the driver.
  *
  * What differs between callers is only what they know: `finalParts`
  * (the engine's config; the external reader's `_config`, None on a
  * store predating it — every final file is then read, unpruned), the
  * (reduce_key, payload) data `schema` (the engine's task type; None:
  * from one parquet footer per read), and how another generation's
  * manifest resolves (`manifests`: the engine's cache, or a plain read).
  */
private[graft] final class StoreSnapshot(
    spark: SparkSession,
    fs: FileSystem,
    root: Path,
    snap: Snapshot,
    finalPartsOf: => Option[Int],
    schema: Option[StructType],
    manifests: Long => Snapshot) {
  import StoreSnapshot._

  private lazy val finalParts = finalPartsOf

  def version: Long = snap.version

  /** Generation `v` of the same store, read the same way. */
  private def at(v: Long): StoreSnapshot =
    new StoreSnapshot(spark, fs, root, manifests(v), finalParts, schema,
      manifests)

  // ---- key reads ------------------------------------------------------

  /** The rows of `keys` as (reduce_key, payload), read at call time.
    * The keys' final files are read on the driver when their summed
    * bytes fit [[Executer.DriverTreeReadMaxBytes]]: a local result whose
    * `collect` runs no Spark job. Past the gate, or with no known
    * schema, [[keysPlan]] serves the read. A reclaimed generation fails
    * loudly here: each file is statted before any row is read. */
  def keysRead(keys: Seq[String]): KeysRead = {
    val files = finalFilesOf(keys)
    val (s, footer) = schemaOf(files)
    s.flatMap(readDriver(files, keys, _)) match {
      case Some((df, opened)) => KeysRead(df, footer, Some(opened))
      case None => KeysRead(plan(files, Some(keys), s), footer, None)
    }
  }

  /** The Spark-plan spelling of [[keysRead]]: a scan of the keys' final
    * files with the key predicate pushed down. A miss (no file: provably
    * no rows, same key → same fpart on write) plans no file at all. */
  def keysPlan(keys: Seq[String]): DataFrame = {
    val files = finalFilesOf(keys)
    plan(files, Some(keys), schemaOf(files)._1)
  }

  /** The whole final table as (reduce_key, payload): a Spark plan pinned
    * to this generation's immutable level-2 file list. */
  def finalsPlan: DataFrame = plan(level2, None, schemaOf(level2)._1)

  private def level2: Vector[String] =
    snap.live.getOrElse("reduce_tree", Vector.empty)
      .filter(_.startsWith("reduce_tree/level=2/"))

  /** The live final-results files (store-relative) that can hold any of
    * `keys`: the level-2 files of the keys' fparts
    * ([[Executer.fpartHash]]), so at most |keys| of the `finalParts`
    * partitions. */
  private def finalFilesOf(keys: Seq[String]): Vector[String] =
    if (keys.isEmpty) Vector.empty
    else finalParts match {
      case None => level2
      case Some(n) =>
        val dirs = keys.iterator
          .map(k => s"reduce_tree/level=2/part=${Executer.fpartHash(k, n)}/")
          .toSet
        level2.filter(f => dirs(f.substring(0, f.lastIndexOf('/') + 1)))
    }

  /** The data schema of a read over `files`, with the file whose
    * footer gave it. A caller that knows the schema reads no footer;
    * otherwise one live file carrying the (reduce_key, payload) pair:
    * a hit's own file first, else any final file, else (every key
    * deleted) a level-1 partial or a map_results file. No such file (a
    * fully drained generation), or a footer with no Spark schema:
    * None, and the read is the key-only frame or an inferred plan. */
  private def schemaOf(
      files: Vector[String]): (Option[StructType], Option[Path]) =
    schema match {
      case Some(s) => (Some(s), None)
      case None =>
        val tree = snap.live.getOrElse("reduce_tree", Vector.empty)
        val file = files.headOption
          .orElse(level2.headOption)
          .orElse(tree.headOption)
          .orElse(snap.live.getOrElse("map_results", Vector.empty).headOption)
          .map(new Path(root, _))
        (file.flatMap(footerSchema), file)
    }

  /** The (reduce_key, payload) data schema in a Spark-written parquet
    * file's footer, as a parquet scan reports it (all nullable). */
  private def footerSchema(p: Path): Option[StructType] = {
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

  /** The driver read behind [[keysRead]]: each row's `reduce_key` is
    * compared as a `UTF8String` before the row is decoded, and only
    * matching rows are kept. Returns the local (reduce_key, payload)
    * frame plus the files opened; None past the byte gate. */
  private def readDriver(files: Seq[String], keys: Seq[String],
      s: StructType): Option[(DataFrame, Seq[Path])] = {
    val statted = files.map { rel =>
      val p = new Path(root, rel)
      (p, fs.getFileStatus(p).getLen)
    }
    if (statted.iterator.map(_._2).sum > Executer.DriverTreeReadMaxBytes) None
    else {
      val want = keys.iterator
        .map(org.apache.spark.unsafe.types.UTF8String.fromString).toSet
      val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(s)
      val rows = new java.util.ArrayList[Row]()
      statted.foreach { case (p, len) =>
        Executer.foreachRowDriver(spark, s, p, len) { r =>
          if (want(r.getUTF8String(0))) rows.add(toRow(r).asInstanceOf[Row])
        }
      }
      Some((spark.createDataFrame(rows, s), statted.map(_._1)))
    }
  }

  /** A scan of final `files`, restricted to `keys` when given. */
  private def plan(files: Vector[String], keys: Option[Seq[String]],
      s: Option[StructType]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        s.getOrElse(KeyOnly))
    else {
      val r = spark.read
        .option("basePath", new Path(root, "reduce_tree").toString)
      val scan = s.fold(r)(r.schema)
        .parquet(files.map(f => new Path(root, f).toString): _*)
      keys.fold(scan)(ks => scan.where(col("reduce_key").isin(ks: _*)))
        .select(col("reduce_key"), col("payload"))
    }

  // ---- changed keys ---------------------------------------------------

  /** DISTINCT reduce keys touched by any mutation published in
    * generations `(since, version]`. A generation's record lands before
    * its `_current` flip, so a published upper bound has complete records
    * behind it. The horizon is checked before listing the records and
    * again after: `compact()` writes the horizon BEFORE deleting records,
    * so a record that vanished mid-listing shows up as a horizon past
    * `since` — refused, never silently under-reported. A window of local
    * records only is de-duplicated on the driver into a local result
    * whose `collect` runs no Spark job; distributed records are scanned
    * by ONE multi-path scan (a per-directory union would cost one scan
    * node and file index per polled generation) under a distinct. */
  def changedKeys(since: Long): DataFrame = {
    require(since >= -1 && since <= version,
      s"sinceVersion must be in [-1, $version], got $since")
    val h = horizon(fs, root)
    if (since < h) throw new IllegalStateException(
      s"changed-keys records up to generation $h have been pruned by " +
        s"compact(); cannot answer since=$since — refetch everything")
    val vs = (since + 1) to version
    val local = vs.flatMap(v =>
      readIfExists(fs, new Path(root, s"changed/c$v"))(Executer.decodeKeyList)
        .getOrElse(Nil))
    val dist = vs.map(v => new Path(root, s"changed/v$v")).filter(fs.exists)
    val h2 = horizon(fs, root)
    if (since < h2) throw new IllegalStateException(
      s"changed-keys records were pruned concurrently (horizon now $h2); " +
        s"cannot answer since=$since — refetch everything")
    if (dist.isEmpty)
      spark.createDataset(local.distinct)(Encoders.STRING).toDF("reduce_key")
    else spark.createDataset(local)(Encoders.STRING).toDF("reduce_key")
      .unionByName(spark.read.schema(KeyOnly)
        .parquet(dist.map(_.toString): _*))
      .distinct()
  }

  // ---- before/after feed ----------------------------------------------

  /** One row per key of `keys` (the window's [[changedKeys]]) holding an
    * image on either side: `reduce_key`, the payload at generation
    * `since` (`old_*`, NULL on insert), the payload at this generation
    * (`new_*`, NULL on delete), and `change_type` ('insert' | 'update' |
    * 'delete'). Both images are [[keysRead]]s and are paired by key on
    * the driver, so a window whose reads are local runs no Spark job;
    * the result is local. Refused (IllegalStateException) when the
    * images cannot be had or paired: `since`'s manifest reclaimed by
    * `compact()` (checked on disk, so the answer never depends on a
    * caller's manifest cache), or a key with several output rows on
    * either side. A zero-churn window needs no old images and reads
    * nothing at `since`. */
  def diffSince(since: Long, keys: Seq[String]): DataFrame = {
    val base =
      if (keys.isEmpty) this
      else if (!fs.exists(new Path(root, s"_manifests/m$since")))
        throw new IllegalStateException(
          s"diffSince: generation $since's manifest was reclaimed by " +
            "compact() — old images unavailable; consume changedKeysSince " +
            "plus a key read, or full-resync")
      else at(since)
    val (before, after) = (base.keysRead(keys).df, keysRead(keys).df)
    val (old, now) = (byKey(before, "old"), byKey(after, "new"))
    // A fully drained generation's external read is key-only: the
    // payload fields come from whichever side still has them, and the
    // other side's images are typed nulls.
    val fields = Seq(after, before).flatMap(_.schema.fields)
      .collectFirst { case StructField("payload", t: StructType, _, _) =>
        t.fields.toSeq }
      .getOrElse(Nil)
    def image(p: Option[Row]): Seq[Any] =
      p.fold(Seq.fill[Any](fields.size)(null))(_.toSeq)
    val rows = new java.util.ArrayList[Row]()
    keys.foreach { k =>
      val (o, n) = (old.get(k), now.get(k))
      if (o.isDefined || n.isDefined) rows.add(Row.fromSeq(
        (k +: image(o)) ++ image(n) :+
          (if (o.isEmpty) "insert" else if (n.isEmpty) "delete" else "update")))
    }
    def side(prefix: String) =
      fields.map(f => f.copy(name = s"${prefix}_${f.name}", nullable = true))
    spark.createDataFrame(rows, StructType(
      (StructField("reduce_key", StringType) +: side("old")) ++ side("new") :+
        StructField("change_type", StringType)))
  }

  /** A side's payloads by key; a key with several rows is refused: its
    * images cannot be paired by reduce_key (a multi-output store, which
    * an external reader cannot tell from the task). */
  private def byKey(df: DataFrame, side: String): Map[String, Row] =
    df.collect().foldLeft(Map.empty[String, Row]) { (m, r) =>
      val k = r.getString(0)
      if (m.contains(k)) throw new IllegalStateException(
        s"diffSince: key '$k' has multiple output rows on the $side side, " +
          "so before/after images cannot be paired by reduce_key; use " +
          "changedKeysSince plus a key read")
      m.updated(k, r.getStruct(1))
    }
}

private[graft] object StoreSnapshot {
  /** A [[StoreSnapshot.keysRead]] result with what it read: the file
    * whose footer gave the schema (None when the caller knew it), and
    * the data files the driver read opened (None when the Spark plan
    * served the read). */
  final case class KeysRead(df: DataFrame, footer: Option[Path],
      opened: Option[Seq[Path]])

  private val KeyOnly = StructType(Seq(StructField("reduce_key", StringType)))

  /** The store's current published generation (`_current`), or −1 when
    * none. */
  def currentVersion(fs: FileSystem, root: Path): Long =
    readIfExists(fs, new Path(root, "_current"))(_.readLong()).getOrElse(-1L)

  /** The oldest base generation the changed-keys records still answer
    * from (records below it were pruned by `compact()`); −1 on a
    * never-compacted store. */
  def horizon(fs: FileSystem, root: Path): Long =
    readIfExists(fs, new Path(root, "changed/_horizon"))(_.readLong())
      .getOrElse(-1L)

  /** Generation `v`'s manifest, read from disk; a reclaimed one fails
    * with a file-not-found error. */
  def manifest(fs: FileSystem, root: Path, v: Long): Snapshot =
    read(fs, new Path(root, s"_manifests/m$v"))(Executer.decodeManifest)

  /** The manifest of generation `version` (−1: the current one). None
    * when nothing is published yet (reads empty); a legacy listing
    * store is refused loudly ([[Executer.isPublished]]). */
  def resolve(fs: FileSystem, root: Path, version: Long): Option[Snapshot] = {
    val v = if (version >= 0L) version else currentVersion(fs, root)
    if (v >= 0L) Some(manifest(fs, root, v))
    else if (Executer.isPublished(fs, root)) resolve(fs, root, version)
    else None
  }

  private def read[A](fs: FileSystem, p: Path)(
      f: java.io.DataInputStream => A): A = {
    val in = new java.io.DataInputStream(fs.open(p))
    try f(in) finally in.close()
  }

  private def readIfExists[A](fs: FileSystem, p: Path)(
      f: java.io.DataInputStream => A): Option[A] =
    if (fs.exists(p)) Some(read(fs, p)(f)) else None
}
