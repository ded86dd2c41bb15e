package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Diagnostic main: at what map-table size does the stale-rows probe
  * want which spelling? Three candidates over a corpus-scale parent
  * directory (the x32 IVM store's shape — the place a too-low
  * driver-read byte ceiling routes back to the collect job):
  *
  *   A. unfiltered driver read (readMapParentsDriver's spelling):
  *      decode every row of the parent single-threaded;
  *   B. doc_id-FILTERED driver read: the same row-mode reader built
  *      with the pushed `In(doc_id, ids)` filter (row-group pruning;
  *      parquet record-level filtering did not engage in row mode on
  *      this Spark build — B still assembles surviving row groups);
  *   C. the probe collect job (pushed-down isin scan, 32-way).
  *
  * Measured on this host (min of 5, warm):
  *
  *   | parent size | A unfiltered | B' filtered | C collect job |
  *   |-------------|--------------|-------------|---------------|
  *   | 4.3 MB      |  46–56 ms    |  43–51 ms   | 202–243 ms    |
  *   | 17 MB       | 149 ms       | 136 ms      | 348 ms        |
  *   | 43 MB       | 346 ms       | 165 ms      | 366 ms        |
  *
  * The driver read decodes ~9 MB/100 ms; the job costs 200–350 ms
  * flat — the read wins to ~25 MB unfiltered, further with pruning.
  * This sizes the engine's `Executer.DriverMapReadMaxBytes` constant
  * (16 MB: 2× margin) and keeps the filtered tier out of the engine (its extra
  * reader build per batch is not worth the marginal pruning below the
  * ceiling). Usage: `runMain graft.ProbeMapRead [rowsPerParent]
  * [nParents]`.
  */
object ProbeMapRead {
  def main(args: Array[String]): Unit = {
    val rowsPerParent = args.headOption.map(_.toInt).getOrElse(250000)
    val nParents = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", "graft.core.NoChmodLocalFileSystem")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // A map-table-shaped parent: (bucket, reduce_key, doc_id, seq,
    // payload struct) — payload sized like the lineitem IVM task's.
    val dir = java.nio.file.Files.createTempDirectory("graft-probemap").toString
    val n = rowsPerParent.toLong * nParents
    spark.range(n).select(
        (pmod(hash($"id"), lit(nParents * 64)) cast "int") as "bucket",
        concat(lit("key-"), pmod(hash($"id" + 7), lit(64))) as "reduce_key",
        concat(lit("DOC-"), format_string("%012d", $"id")) as "doc_id",
        lit(3) as "seq",
        struct(
          (rand(7) * 100).cast("decimal(20,2)") as "sum_qty",
          (rand(11) * 1000).cast("decimal(20,2)") as "sum_base",
          ($"id" % 100) cast "long" as "cnt",
          concat(lit("F"), $"id" % 3) as "flag") as "payload",
        (pmod(hash($"id"), lit(nParents * 64)) / lit(64) cast "int") as "parent")
      .repartition($"parent").sortWithinPartitions($"parent", $"reduce_key")
      .write.mode("overwrite").partitionBy("parent").parquet(dir)

    val oneParent = new java.io.File(s"$dir/parent=0")
    val files = oneParent.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val bytes = files.map(_.length).sum
    println(s"[probemap] parent=0: ${files.length} files, $bytes bytes")

    val dataSchema = StructType(
      spark.read.parquet(dir).schema.filterNot(_.name == "parent"))
    val targetIds = Seq("DOC-000000000128") // hashes somewhere; filter exact below
    // Pick ids that actually live in parent 0 so the probe matches rows.
    val ids = spark.read.parquet(s"$dir/parent=0")
      .select($"doc_id").limit(3).as[String].collect().toSeq
    println(s"[probemap] target ids: $ids (plus miss ${targetIds.head})")

    def readFn(filters: Seq[org.apache.spark.sql.sources.Filter],
        recordFilter: Boolean) = {
      val conf = spark.sessionState.conf
      val k = "spark.sql.parquet.recordLevelFilter.enabled"
      conf.setConfString(k, recordFilter.toString)
      val fmt = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat()
      fmt.buildReaderWithPartitionValues(
        spark, dataSchema, new StructType(), dataSchema, filters,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    }

    def drain(fn: org.apache.spark.sql.execution.datasources.PartitionedFile
          => Iterator[org.apache.spark.sql.catalyst.InternalRow]): Int = {
      var c = 0
      files.foreach { f =>
        val pf = new org.apache.spark.sql.execution.datasources.PartitionedFile(
          org.apache.spark.sql.catalyst.InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPathString(f.getPath), 0L,
          f.length, Array.empty[String], 0L, f.length,
          scala.collection.immutable.Map.empty)
        val it = fn(pf)
        while (it.hasNext) { it.next(); c += 1 }
      }
      c
    }

    def time[A](label: String)(f: => A): A = {
      // min of 5
      var best = Long.MaxValue
      var out: A = null.asInstanceOf[A]
      for (_ <- 1 to 5) {
        val t0 = System.nanoTime()
        out = f
        best = math.min(best, System.nanoTime() - t0)
      }
      println(f"[probemap] $label%-34s min ${best / 1e6}%8.1f ms -> $out")
      out
    }

    // A: unfiltered driver read (reader built once, like the engine's).
    val unf = readFn(Nil, recordFilter = false)
    time("A unfiltered driver read")(drain(unf))

    // B: filtered driver read, reader built PER CALL (as a per-batch
    // probe would), record-level filter on.
    time("B filtered read (incl. build)") {
      val fn = readFn(
        Seq(org.apache.spark.sql.sources.In("doc_id", ids.toArray)),
        recordFilter = true)
      drain(fn)
    }
    // B': same, reader prebuilt (isolates decode from build cost).
    val fb = readFn(
      Seq(org.apache.spark.sql.sources.In("doc_id", ids.toArray)),
      recordFilter = true)
    time("B' filtered read (prebuilt)")(drain(fb))

    // C: the probe collect job (pushed-down isin over the parent).
    time("C probe collect job") {
      spark.read.parquet(s"$dir/parent=0")
        .where($"doc_id".isin(ids: _*))
        .collect().length
    }

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    spark.stop()
  }
}
