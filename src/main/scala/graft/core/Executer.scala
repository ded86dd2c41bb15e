package graft.core

import java.net.URI

import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.functions.StableBucketHash

/** Tuning constants of the bucketed reduce tree.
  *
  * Reference shape (`MapReduce/Executer.cs:23,62,297`): 65,536 map buckets
  * (= fanIn²) per reduce key, collapsed by `bucket / fanIn` into ≤256
  * level-1 partials, then one final result per key — bounding incremental
  * update cost to O(changed docs + 2·fanIn) records per touched key,
  * independent of dataset size.
  *
  * `finalParts` partitions the final-results table by a hash of the reduce
  * key so a point query prunes to 1/finalParts of the table.
  */
final case class ExecuterConfig(
    fanIn: Int = 256,
    finalParts: Int = 64,
    driverDirtyLimit: Int = 4096,
    tombstoneLimit: Int = 1 << 17,
    manifestRetention: Int = 2,
    manifestGraceMs: Long = 600000L,
    rebuildDirtyFraction: Double = 0.5) {
  val buckets: Int = fanIn * fanIn
}
// `manifestRetention`/`manifestGraceMs`: a retired data file is deleted only
// once it is BOTH ≥ retention generations old AND ≥ grace millis old, so any
// reader holding a recent snapshot never loses a file under it.
// `rebuildDirtyFraction`: an update whose dirty (key, parent) pair set
// covers at least this fraction of the live level-1 partials takes the
// single-write rebuild path instead of incremental maintenance (the
// incremental spelling would pay tombstone append + a near-total sibling
// re-reduce + the merge-on-read overlay, strictly more than a rebuild —
// measured 2.8× at a 10k-doc bulk re-submit over a 456k-doc corpus).
// Double.PositiveInfinity disables the fallback.

/** One generation of a manifest store's file layout (SURVEY §14): the
  * exact live data files per table, the current local-tombstone file, and
  * the retired files awaiting GC. Published as `_manifests/m<version>`
  * with `_current` atomically renamed to point at it; data files are
  * immutable and never change path, so a resolved snapshot stays readable
  * no matter how many mutations land after it. */
private[graft] final case class Retired(path: String, version: Long, millis: Long)
private[graft] final case class Snapshot(
    version: Long,
    live: Map[String, Vector[String]], // table name -> store-relative paths
    tombLocal: Option[String],         // "_tomb/t<seq>.bin"
    retired: Vector[Retired])

object Executer {
  /** The session's Hadoop configuration flattened to plain entries for
    * the broadcast into [[copyBranchFiles]] (ADVICE r13: a bare
    * executor-default `new Configuration()` resolved scheme-less store
    * paths against `file://` and dropped `spark.hadoop.*` credentials).
    * An `Array[(String, String)]` survives ANY Spark serializer — a
    * custom Serializable wrapper with writeObject/readObject hooks does
    * not: Kryo (spark.serializer=KryoSerializer, common cluster-wide)
    * ignores Java serialization hooks for unregistered classes and
    * skips transient fields, which would deserialize the wrapped
    * Configuration as null on exactly the deployments the fix targets
    * (Spark registers its own private SerializableConfiguration with
    * Kryo's JavaSerializer for this reason). */
  private[core] def confEntries(
      conf: org.apache.hadoop.conf.Configuration): Array[(String, String)] = {
    val out = Array.newBuilder[(String, String)]
    val it = conf.iterator()
    while (it.hasNext) { val e = it.next(); out += ((e.getKey, e.getValue)) }
    out.result()
  }

  /** Task body of [[Executer.branchAt]]'s distributed file copy — a
    * static function (no Executer capture: the instance holds a
    * SparkSession and live FileSystems, none serializable). Each task
    * rebuilds the session's Hadoop config from the broadcast entries
    * (over loaded defaults); the roots arrive as fully-qualified URIs
    * (driver-side `makeQualified`), so resolution cannot depend on
    * executor-local filesystem defaults. */
  private[core] def copyBranchFiles(srcRoot: String, dstRoot: String,
      bconf: org.apache.spark.broadcast.Broadcast[Array[(String, String)]])
      : Iterator[String] => Unit = { rels =>
    val conf = new org.apache.hadoop.conf.Configuration(true)
    bconf.value.foreach { case (k, v) => conf.set(k, v) }
    val srcFs = FileSystem.get(URI.create(srcRoot), conf)
    val dstFs = FileSystem.get(URI.create(dstRoot), conf)
    rels.foreach { rel =>
      val to = new Path(s"$dstRoot/$rel")
      dstFs.mkdirs(to.getParent)
      if (!org.apache.hadoop.fs.FileUtil.copy(srcFs,
          new Path(s"$srcRoot/$rel"), dstFs, to, false, conf))
        throw new java.io.IOException(s"branchAt: copy failed for $rel")
    }
  }

  /** True when a batch's optimized plan is shuffle-free and cheap to
    * re-evaluate partially: leaf scans under projections, filters,
    * limits and typed map/filter nodes only. Anything that implies an
    * exchange or full materialization (joins, aggregates, repartitions,
    * windows, distinct…) disqualifies — a bounded take() through such a
    * plan would compute the whole upstream for the probe and then again
    * for the batch. */
  private[core] def narrowBatchPlan(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p.collectFirst {
      case n if !(n.isInstanceOf[LeafNode] || n.isInstanceOf[Filter] ||
        n.isInstanceOf[Project] || n.isInstanceOf[DeserializeToObject] ||
        n.isInstanceOf[SerializeFromObject] || n.isInstanceOf[MapElements] ||
        n.isInstanceOf[TypedFilter] || n.isInstanceOf[MapPartitions] ||
        n.isInstanceOf[SubqueryAlias] || n.isInstanceOf[LocalLimit] ||
        n.isInstanceOf[GlobalLimit]) => n
    }.isEmpty
  }

  /** A reduce key's final-results partition — ONE definition shared by
    * the engine's pruned reads (`query`/`queryKeys`/point time travel)
    * and the external reader's [[graft.sources.StoreReader.pointQuery]].
    * Must agree with `pmod(hash(reduce_key), finalParts)` used on
    * write (Spark's Murmur3, seed 42). */
  private[graft] def fpartHash(key: String, finalParts: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(key),
      org.apache.spark.sql.types.StringType, 42L).toInt
    val m = h % finalParts
    if (m < 0) m + finalParts else m
  }

  /** Spark's own parquet reader function per (session, data schema) —
    * the exact row-mode reader a scan task runs (same read support, same
    * per-file datetime-rebase resolution), built once like the write
    * side's `pqFactory`. Bounded by eviction. */
  private val pqReadFns = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, StructType),
    org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[InternalRow]]()

  /** Every row of one live parquet data file under `schema`, read on
    * the driver thread — no job, no per-call plan analysis. ONE reader
    * shared by the engine's maintenance reads and every driver key read
    * ([[StoreSnapshot.keysRead]], so also the external reader). The file is
    * always drained to exhaustion: its reader closes only at the end,
    * and with no TaskContext there is no completion hook to do it. */
  private[graft] def foreachRowDriver(spark: SparkSession, schema: StructType,
      p: Path, len: Long)(f: InternalRow => Unit): Unit = {
    if (pqReadFns.size > 64) pqReadFns.clear()
    val read = pqReadFns.computeIfAbsent((spark, schema), _ =>
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat().buildReaderWithPartitionValues(
          spark, schema, new StructType(), schema, Nil,
          Map(org.apache.spark.sql.execution.datasources.FileFormat
            .OPTION_RETURNING_BATCH -> "false"),
          spark.sessionState.newHadoopConf()))
    read(new org.apache.spark.sql.execution.datasources.PartitionedFile(
      InternalRow.empty, org.apache.spark.paths.SparkPath.fromPath(p),
      0L, len, Array.empty[String], 0L, len,
      scala.collection.immutable.Map.empty)).foreach(f)
  }

  /** `t` with every field, element and value nullable — the schema a
    * Spark parquet scan reports for its files (file sources always read
    * nullable), so a driver read keeps the Spark plan's exact types. */
  private[graft] def readNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = readNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(readNullable(a.elementType), true)
    case m: MapType =>
      MapType(readNullable(m.keyType), readNullable(m.valueType), true)
    case other => other
  }

  /** First path segment of a store-relative file path = its table. */
  private[graft] def tableOf(rel: String): String = {
    val i = rel.indexOf('/')
    if (i < 0) rel else rel.substring(0, i)
  }

  /** The engine's case-insensitive document-id normalization
    * (`Executer.cs:246-247,302`): Spark's UTF8String upper-casing, the
    * SAME uppercase the SQL `upper()` of the distributed write path
    * stores. JDK `String.toUpperCase` diverges from it on non-ASCII under
    * some default locales (tr-TR dotted i), which would make deletes and
    * contribution lookups silently miss stored ids. Shared so the
    * external reader cannot drift from the ids the engine stored. */
  private[graft] def normDocId(id: String): String =
    org.apache.spark.unsafe.types.UTF8String.fromString(id)
      .toUpperCase.toString

  /** A normalized doc id's map partition under `fanIn` — the pure
    * function both [[Executer.contributionsOf]] and the external
    * reader prune by (buckets = fanIn², bucket / fanIn = parent). */
  private[graft] def parentOf(normId: String, fanIn: Int): Int =
    graft.functions.StableBucketHash.hash(normId, fanIn * fanIn) / fanIn

  /** Decode side of the length-prefixed UTF-8 string record used by
    * every driver-local state file — ONE definition shared by the
    * engine's readers and the external reader's tombstone decode so the
    * wire format cannot drift. Encode side: `Executer!.writeStr`. */
  private[graft] def decodeStr(in: java.io.DataInputStream): String = {
    val n = in.readInt()
    // Validated BEFORE allocating (ADVICE r9): a record written by a
    // different format (e.g. the pre-r9 writeUTF spelling, whose 2-byte
    // length plus 2 data bytes would be read here as one 4-byte length)
    // must fail as an explicit corrupt-record error, not as a
    // multi-GB allocation attempt. 16 MiB is far above any real
    // document id / reduce key and far below anything allocatable by
    // accident from reinterpreted bytes.
    if (n < 0 || n > (16 << 20)) throw new java.io.IOException(
      s"corrupt or unsupported string record: length $n out of range " +
        "(store written by an incompatible version?)")
    val b = new Array[Byte](n); in.readFully(b)
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The local-tombstone file codec, decode side — (doc_id, tomb_seq)
    * entries, max-merged per doc by the writer. Shared by the engine's
    * [[Executer!.readTombFile]] and the external reader's map-level
    * overlay ([[graft.sources.StoreReader.contributors]]). Encode side:
    * `addTombstonesLocal`. */
  private[graft] def decodeTombFile(
      in: java.io.DataInputStream): Seq[(String, Int)] = {
    val n = in.readInt()
    (0 until n).map(_ => (decodeStr(in), in.readInt()))
  }

  /** The driver-local changed-keys record codec, decode side (count +
    * length-prefixed keys), read only by [[StoreSnapshot.changedKeys]].
    * Encode side: the pre-publish archive in `archiveChangedKeys`. */
  private[graft] def decodeKeyList(
      in: java.io.DataInputStream): Seq[String] = {
    val n = in.readInt()
    (0 until n).map(_ => decodeStr(in))
  }

  /** The manifest binary codec, decode side, read only by
    * [[StoreSnapshot.manifest]] — so the engine and the external reader
    * can never drift on the wire format. Encode side: `writeManifest`. */
  private[graft] def decodeManifest(in: java.io.DataInputStream): Snapshot = {
    val ver = in.readLong()
    val tl = in.readUTF()
    val n = in.readInt()
    val live = (0 until n).map(_ => in.readUTF()).toVector.groupBy(tableOf)
    val nr = in.readInt()
    val retired = (0 until nr).map(_ =>
      Retired(in.readUTF(), in.readLong(), in.readLong())).toVector
    Snapshot(ver, live, if (tl.isEmpty) None else Some(tl), retired)
  }

  /** The generation a store with nothing published reads as. */
  private val Unpublished = Snapshot(-1L, Map.empty, None, Vector.empty)

  /** The store-layout gate, ONE definition shared by the engine (every
    * entry point, via `configChecked`) and the external reader: true
    * when `root` has a published generation (`_current`), false when
    * nothing is published yet — a fresh store, or a first build that
    * crashed before its publish (`_manifests/` is created with `_config`,
    * before any data file lands) — which reads as empty. Anything else
    * holds `map_results` with no manifest layer: a store written by the
    * retired listing-based layout, refused loudly. */
  private[graft] def isPublished(fs: FileSystem, root: Path): Boolean =
    if (fs.exists(new Path(root, "_current"))) true
    else if (fs.exists(new Path(root, "_manifests")) ||
        !fs.exists(new Path(root, "map_results"))) false
    else throw new UnsupportedOperationException(
      s"$root is a legacy listing-based store (map_results with no " +
        "_current or _manifests/): only manifest stores can be opened — " +
        "rebuild it from its source documents into a new store path")

  /** Ceiling on the dirty-directory count the driver-merge paths
    * ([[Executer!.startRereduceDeltaDriver]],
    * [[Executer!.rereducePrunedDriver]]) rewrite from the driver; past
    * it the distributed spelling's width wins back. Covers every
    * driver-small batch shape the local fixtures produce (≤ fanIn
    * parents + finalParts fparts). */
  private[core] final val DriverMergeMaxDirs = 96

  /** Byte ceiling on the LIVE tree content of the dirty directories a
    * driver merge would rewrite. Measured (q77 vs q121l, round 16): with
    * ~300 KB of dirty-dir state the driver rewrite wins ~0.7s over the
    * distributed spelling; at a few MB (a wide-fan-out shingle index
    * whose every update dirties the whole tree) it LOSES ~2.4s — the
    * retained-row rewrite wants width. */
  private[core] final val DriverMergeMaxBytes = 1L << 20

  /** Size-statistics ceiling on the batch auto-collect probe: a narrow
    * batch whose optimized plan estimates past this many bytes is never
    * take()-probed — the probe itself would scan row groups (and run any
    * typed map) of a corpus-scale input on every build, only to
    * overflow. Every batch the collect actually serves (micro-batches,
    * dimension slices) is well under 1 MB of source; corpus scans that
    * must stay distributed start around 2.5 MB — 2 MB splits them with
    * the probe cost landing on neither. */
  private[core] final val DriverBatchCollectMaxBytes = 2L << 20

  /** Row ceiling on the full dirty-directory fetch the driver-merge
    * paths use (touched AND untouched rows — the merge rewrites whole
    * directories, so fetching the retained rows lets the rewrite skip
    * re-scanning them). [[DriverMergeMaxBytes]] already bounds the same
    * content to ~1 MB of parquet; this caps pathological row counts
    * (thousands of near-empty rows per KB) independently. Overflow
    * falls back to the distributed spelling, results unchanged. The
    * driver map read ([[Executer!.readMapParentsDriver]]) caps the
    * parents' rows it keeps for the pruned recompute at the same
    * count: past it, it decodes only the incoming docs' own rows and the
    * recompute reads its level-0 rows with a job. */
  private[core] final val DriverMergeMaxRows = 1 << 18

  /** Byte ceiling on the LIVE map_results content of the incoming
    * parents that the driver-side probe read
    * ([[Executer!.readMapParentsDriver]]) will scan in place of the
    * stale-rows probe job. Larger than [[DriverMergeMaxBytes]]
    * deliberately: the map read replaces a Spark job whose fixed cost
    * buys a lot of single-threaded parquet decoding, and a 1-doc update
    * on a corpus-scale store touches exactly one parent directory
    * (~1/fanIn of the table). Measured (ProbeMapRead, map-shaped
    * parents, min of 5): the driver read decodes ~9 MB/100 ms and the
    * probe collect job costs 200–350 ms flat, so the read wins up to
    * ~25 MB; 16 MB keeps a 2× margin. The read streams every row of the
    * parents but decodes only the rows it returns: the incoming docs'
    * own, plus — for a recompute task, up to [[DriverMergeMaxRows]] of
    * them — the parents' other live rows. Batches whose parents sum past
    * this ceiling keep the pushed-down probe job unchanged. */
  private[core] final val DriverMapReadMaxBytes = 16L << 20

  /** Byte ceiling on the reduce-tree content the fully-driver pruned
    * recompute ([[Executer!.rereducePrunedDriver]]'s job-free spelling)
    * reads in place of its one collect job: the dirty keys' level-1
    * partials live in EVERY parent (sibling inclusion), so the read
    * spans the whole level 1 plus the dirty level-2 fparts. Sized like
    * [[DriverMapReadMaxBytes]] and for the same reason — the read
    * replaces a whole job, not just its run time. */
  private[core] final val DriverTreeReadMaxBytes = 4L << 20

  /** On-disk store format version. Bump when ANY persisted layout
    * changes: table schemas/partitioning, manifest or WAL encoding,
    * tombstone format, state-file layout. Folded into the cross-run
    * [[graft.ops.StoreCache]] fingerprint so a format change can never
    * silently serve a previous build's store to the bench
    * (VERDICT r10 #6). */
  val FormatVersion = 1

  // One checksum-free state-file FileSystem per (scheme, authority),
  // shared by every Executer instance in the process (see `stateFs`).
  private val stateFsCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileSystem]()

  private[core] def stateFsFor(
      uri: URI, conf: org.apache.hadoop.conf.Configuration): FileSystem = {
    val key = s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}"
    stateFsCache.computeIfAbsent(key, _ => {
      val f = FileSystem.newInstance(uri, conf)
      f.setVerifyChecksum(false)
      f.setWriteChecksum(false)
      f
    })
  }
}

/** Per-batch maintenance observability — the reference's NLog step trace
  * (`MapReduce/Executer.cs:65-78,98-104`) re-expressed as metrics: which
  * maintenance mode ran, how many Spark actions it issued, and how much
  * state was dirty. Exposed via [[Executer.lastStats]] and logged.
  *
  * `mode` names the branch a batch took; a purge
  * ([[Executer.deleteDocuments]], a batch with no documents) reads
  * `delete-docs` whichever branch ran. `sparkJobs` is hand-counted: the
  * delta branch counts only the jobs it runs, the others still count
  * some that their driver spellings skip. -1 marks a figure the branch
  * did not compute (ids not all on the driver, an overflowed probe). */
final case class MaintenanceStats(
    mode: String,
    sparkJobs: Int,
    incomingDocs: Long,
    dirtyPairs: Int,
    dirtyParents: Int,
    millis: Long)

/** Updatable, persistent, queryable map/reduce index on Spark.
  *
  * Spark-first re-expression of the reference engine
  * (`MapReduce/Executer.cs`): state lives in three partitioned Parquet
  * tables instead of one-JSON-file-per-record directory trees
  * (`Executer.cs:165-203,263-276`), and each filesystem hop of the
  * reference becomes a shuffle or a partition-pruned table scan:
  *
  *   - `map_results/`     partitioned by `parent` (= bucket/fanIn, ≤256
  *     values) — replaces `MapResults/<key>/<bucket>/<docId>`.
  *   - `reduce_tree/`     BOTH reduce levels in one table partitioned by
  *     (`level`, `part`): level=1/part=parent replaces
  *     `ReduceResults/One/<key>/<levelBucket>/<seq>`; level=2/part=fpart
  *     (= hash(key) mod finalParts) replaces `FinalResults/<key>`. One
  *     table means one incremental update rewrites the whole reduce tree
  *     in a SINGLE write job + partition swap.
  *   - `dirty/`           write-ahead dirty-set log — replaces the
  *     `Schedules tree` marker files (`Executer.cs:115-151`); written before
  *     any state mutation so a crash leaves buckets conservatively marked
  *     dirty, never silently wrong (§2.3.4 of SURVEY.md).
  *
  * Scale notes (the 100 TB design point):
  *   - No driver-side file listing anywhere: invalidation is a semi/anti
  *     join of the state table against the incoming ids (vs the
  *     reference's `Directory.GetFiles` scan, `Executer.cs:246`). AQE
  *     broadcasts the incoming side when the update batch is small.
  *   - The only values ever collected to the driver are the distinct
  *     dirty `parent` partition ids (≤ fanIn = 256 ints) and dirty
  *     `fpart` ids (≤ finalParts) — used to build partition-pruning
  *     filters for `INSERT OVERWRITE`-style dynamic partition rewrites.
  *   - Incremental recompute reads only dirty `parent` partitions
  *     (partition pruning) and only dirty keys within them (semi join).
  */
class Executer[D, R <: Product: TypeTag](
    task: MapReduceTask[D, R],
    val storePath: String,
    config: ExecuterConfig = ExecuterConfig(),
    lease: Option[LeaseProvider] = None)(implicit spark: SparkSession) {

  import spark.implicits._
  import Executer.{DriverBatchCollectMaxBytes, DriverMapReadMaxBytes,
    DriverMergeMaxBytes, DriverMergeMaxDirs, DriverMergeMaxRows,
    DriverTreeReadMaxBytes}

  /** Sentinel `parent` value in the dirty WAL meaning "full rebuild". */
  private val FullRebuild = -1

  /** Minimum dirty-pair count before the rebuild-fallback check runs at
    * all: the check costs one metadata-only count job over the level-1
    * partials, which a small update (the steady-state maintenance loop)
    * must never pay. Below this floor the incremental path is always
    * cheaper than a rebuild anyway. */
  private val RebuildCheckFloor = 256

  /** Above `config.driverDirtyLimit` dirty (key, parent) pairs,
    * incremental maintenance switches from driver-side pruning (isin
    * pushdown, zero extra jobs) to the distributed join path. The 4096
    * default ≈ a few hundred KB of driver strings at worst, while keeping
    * per-doc-keyed indexes (signature/cell tables, dirty pairs ≈ 2 ×
    * batch docs) on the cheap path for multi-thousand-doc batches. */
  private val DriverDirtyLimit = config.driverDirtyLimit

  /** The live data files of the named reduce-tree partition
    * directories, as ((level, part), path, length): the snapshot's live
    * files, statted (disk dirs also hold retired generations, which must
    * not count). A handful of metadata calls — the dirs are bounded by
    * [[DriverMergeMaxDirs]] before this runs. Shared by the byte gate
    * and the driver-side tree read (the read consumes the very file
    * list the gate measured, so no re-resolution can race a concurrent
    * model mutation). */
  private def liveTreeFiles(dirs: Seq[String]): Seq[((Int, Int), Path, Long)] = {
    def dirOf(d: String): (Int, Int) = {
      val Array(l, p) = d.split('/')
      (l.stripPrefix("level=").toInt, p.stripPrefix("part=").toInt)
    }
    val byPrefix = dirs.map(d => s"reduce_tree/$d/" -> dirOf(d))
    snapshotNow().live.getOrElse("reduce_tree", Vector.empty).flatMap { rel =>
      byPrefix.find(bp => rel.startsWith(bp._1)).map { bp =>
        val p = new Path(s"$storePath/$rel")
        (bp._2, p, fileLen(p))
      }
    }
  }

  /** A live data file's length; 0 when the stat fails (the gates it
    * feeds only bound work, and the read itself surfaces a real loss). */
  private def fileLen(p: Path): Long =
    try fs.getFileStatus(p).getLen
    catch { case _: java.io.IOException => 0L }

  private def dirtyTreeBytes(dirs: Seq[String]): Long =
    liveTreeFiles(dirs).map(_._3).sum

  /** The live reduce-tree data files whose (level, part) satisfies
    * `pred` — the [[liveTreeFiles]] enumeration generalized from a named
    * dir list to a predicate, for fetches that span a whole level (the
    * pruned driver recompute reads every level-1 partial). */
  private def liveTreeFilesWhere(pred: (Int, Int) => Boolean)
      : Seq[((Int, Int), Path, Long)] =
    snapshotNow().live.getOrElse("reduce_tree", Vector.empty).flatMap { rel =>
      val segs = rel.split('/')
      val lp =
        if (segs.length < 4) None
        else try Some((segs(1).stripPrefix("level=").toInt,
          segs(2).stripPrefix("part=").toInt))
        catch { case _: NumberFormatException => None }
      lp.filter(pred.tupled).map { t =>
        val p = new Path(s"$storePath/$rel")
        (t, p, fileLen(p))
      }
    }

  /** The live map_results data files of the named parent directories,
    * as (parent, path, length) under the given snapshot — the map-table
    * analog of [[liveTreeFiles]], shared by the probe read's byte gate
    * and the read itself (the read consumes the very file list the gate
    * measured). */
  private def liveMapFiles(parents: Seq[Int], snap: Snapshot)
      : Seq[(Int, Path, Long)] = {
    val byPrefix = parents.map(p => s"map_results/parent=$p/" -> p)
    snap.live.getOrElse("map_results", Vector.empty).flatMap { rel =>
      byPrefix.find(bp => rel.startsWith(bp._1)).map { bp =>
        val p = new Path(s"$storePath/$rel")
        (bp._2, p, fileLen(p))
      }
    }
  }

  implicit private val encR: Encoder[R] = Encoders.product[R]
  implicit private val encKR: Encoder[(String, String, R)] =
    Encoders.tuple(Encoders.STRING, Encoders.STRING, encR)

  private val mapResultsPath = s"$storePath/map_results"
  private val treePath = s"$storePath/reduce_tree"
  private val dirtyPath = s"$storePath/dirty"
  private val leasePath = s"$storePath/_writer.lease"
  private val configPath = s"$storePath/_config"

  /** The bucket/partition layout is baked into the stored data: opening
    * a store with a different (fanIn, finalParts) would silently
    * mis-prune every lookup and mis-route every update. The layout is
    * persisted at first build and validated once per instance on every
    * entry point. Since round 15 the task's identity
    * ([[MapReduceTask.taskId]]) is persisted and validated alongside:
    * map rows and reduce tree are meaningful only under the task that
    * wrote them, so opening a store with a DIFFERENT named task (and
    * then updating it) would silently mix two tasks' outputs in one
    * index. Ids containing `$$anon$` are recorded but never enforced —
    * anonymous classes have no stable identity across recompiles.
    * Stores with a 2-int `_config` (or none) are accepted as-is. The
    * store layout is gated here too ([[Executer.isPublished]]: a legacy
    * listing-based store is refused), so every entry point refuses it.
    * Checked lazily so constructing an Executer stays IO-free. */
  private lazy val configChecked: Unit = {
    val published =
      Executer.isPublished(fs, fs.makeQualified(new Path(storePath)))
    val p = new Path(configPath)
    if (fs.exists(p)) {
      val in = new java.io.DataInputStream(stateFs.open(p))
      try {
        val (fi, fp) = (in.readInt(), in.readInt())
        require(fi == config.fanIn && fp == config.finalParts,
          s"store $storePath was built with fanIn=$fi finalParts=$fp " +
            s"but opened with fanIn=${config.fanIn} finalParts=${config.finalParts}")
        // Task-identity trailer (absent on pre-r15 stores: readUTF hits
        // EOF — accept). Enforced only when BOTH sides are named
        // classes; an anonymous id on either side never rejects.
        val stored = try Some(in.readUTF())
          catch { case _: java.io.EOFException => None }
        stored.foreach { sid =>
          val cur = task.taskId
          require(sid == cur || sid.contains("$$anon$") ||
              cur.contains("$$anon$"),
            s"store $storePath was built by task '$sid' but opened with " +
              s"task '${cur}': an index is only meaningful under the task " +
              "that wrote it (override MapReduceTask.taskId to pin the " +
              "old id across a rename, or point the new task at a new " +
              "store path)")
        }
      } finally in.close()
    } else if (!exists(mapResultsPath)) {
      // Fresh store: this instance's layout becomes the store's layout.
      // Atomic write-temp + rename — configChecked also runs on
      // lock-free READ paths, so a crash mid-write must never strand a
      // partial _config (every later open would die in readInt), and a
      // concurrent reader must never open a half-written file.
      fs.mkdirs(new Path(storePath))
      writeLocalAtomic(configPath) { out =>
        out.writeInt(config.fanIn); out.writeInt(config.finalParts)
        out.writeUTF(task.taskId)
      }
    } // else: pre-_config store — accept as-is.
    // The manifest directory exists before any data file lands, so a
    // first build that crashes before its publish still reads as an
    // unpublished manifest store (see isPublished).
    if (!published) fs.mkdirs(new Path(manifestsPath))
  }
  // Merge-on-read invalidation state (see the tombstone section below).
  private val tombDistPath = s"$storePath/tombstones"
  private val seqPath = s"$storePath/_seq"
  // Generation-manifest state (SURVEY §14): one small file per published
  // generation plus an atomically-renamed pointer to the current one.
  private val manifestsPath = s"$storePath/_manifests"
  private val currentPath = s"$storePath/_current"
  private val storeRoot = new Path(storePath)
  private val tombDirPath = s"$storePath/_tomb"

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Executer[_, _]])

  @volatile private var _lastStats: Option[MaintenanceStats] = None

  /** Stats of the most recent maintenance batch run through this
    * instance — mode chosen, Spark actions issued, dirty-set size. */
  def lastStats: Option[MaintenanceStats] = _lastStats

  // ---------------------------------------------------------------------
  // Single-writer lease — the reference is single-process by construction
  // (`MapReduce/Program.cs:13-45`); on a shared store the same contract
  // must be enforced, or two concurrent executes would interleave staging
  // renames and corrupt state. The claim mechanism is pluggable
  // ([[LeaseProvider]]): the default atomic create-if-absent is correct
  // on HDFS/local; object-store deployments pass a conditional-put
  // provider via the `lease` constructor parameter.
  // ---------------------------------------------------------------------

  private val leaseProvider: LeaseProvider =
    lease.getOrElse(new AtomicCreateLeaseProvider(() => fs, leasePath))

  private def acquireLease(): Unit = {
    fs.mkdirs(new Path(storePath))
    leaseProvider.acquire(
      s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}")
  }

  /** Force-release a lease left behind by a crashed writer (call
    * [[recover]] first to replay its WAL). */
  def breakLease(): Unit = leaseProvider.release()

  private def withLease[A](f: => A): A = {
    configChecked
    acquireLease()
    // EVERYTHING after a successful acquire runs inside the try: a
    // transient failure in the pending-snapshot load (a corrupt
    // manifest) must still release the lease in the finally, or the
    // store is wedged behind a lease file no live writer holds until an
    // operator breaks it manually.
    try {
      // The writer-side pending generation: the published snapshot (or
      // an empty one on a store with nothing published) that every write
      // step below mutates in memory and publishPending() lands.
      pending = publishedSnapshot().getOrElse(Executer.Unpublished)
      pendingDirty = false
      writerThread = Thread.currentThread().getId
      val r = f
      // Operations that mutate outside the WAL-cleared batch shape (the
      // auto-fold, compact's consolidation) land their generation here.
      // An EXCEPTION deliberately skips this: a half-applied batch must
      // stay invisible — its WAL survives and recovery replays it.
      publishPending()
      r
    } finally {
      writerThread = -1L
      pending = null
      try {
        // Registered SQL views pin their plan (and parquet file
        // listing) at registration: re-resolve them against the
        // post-mutation layout so SQL reads stay current.
        try refreshViews()
        catch { case e: Throwable => log.warn(s"view refresh failed: $e") }
      } finally breakLease()
    }
  }

  // ---------------------------------------------------------------------
  // Generation manifests (SURVEY §14) — lock-free stable snapshot reads,
  // Iceberg/Delta-style but scoped to this engine's needs. A concurrent
  // reader never lists a directory, so a maintenance batch landing
  // mid-read can neither tear the read nor rename its files away:
  //
  //   1. Data files are immutable and never change path. Every write
  //      stages to a scratch dir, then RENAMES its data files additively
  //      into the destination partition directories — replaced files stay
  //      where they are, retired in the manifest instead of moved aside.
  //   2. Each mutation step publishes `_manifests/m<version>` naming every
  //      live data file (map_results, reduce_tree, distributed tombstones)
  //      plus the current immutable local-tombstone file under `_tomb/`,
  //      then atomically renames `_current` to point at it. Readers
  //      resolve _current → manifest → exact file list; partition columns
  //      still derive from the paths (basePath), so pruning is unchanged.
  //   3. Retired files are GC'd only once BOTH `manifestRetention`
  //      generations and `manifestGraceMs` have passed, so a reader
  //      holding a recent snapshot never errors; compact() reclaims
  //      everything immediately (the explicit hammer) and sweeps orphans.
  //   4. Crash contract: the manifest is published after all of a
  //      batch's data renames and before the WAL clear, so a crash
  //      anywhere mid-batch leaves the whole batch invisible — readers
  //      keep the previous generation, the surviving WAL replays an idempotent re-reduce of published state, and the
  //      crashed batch's files (including its tombstone file, which the
  //      old manifest does not reference) are orphans that compact()
  //      sweeps. Re-submitting the batch applies it.
  // ---------------------------------------------------------------------

  /** Writer-side pending generation: non-null exactly while this instance
    * holds the lease. Mutated in memory by each write step; published by
    * [[publishPending]]. */
  @volatile private var pending: Snapshot = _
  private var pendingDirty = false
  // The thread currently mutating under the lease: only ITS reads may
  // resolve the half-applied `pending` generation (the writer must see
  // its own uncommitted merges); every other thread's read on this
  // instance resolves the last PUBLISHED snapshot, preserving the
  // "half-applied batch is invisible" contract for same-instance
  // concurrent readers too (not just separate reader processes).
  @volatile private var writerThread: Long = -1L

  private def readCurrentVersion(): Long =
    StoreSnapshot.currentVersion(stateFs, storeRoot)

  private def manifestFile(v: Long): String = s"$manifestsPath/m$v"

  private def tableOf(rel: String): String = Executer.tableOf(rel)

  private def writeManifest(s: Snapshot): Unit =
    writeLocalAtomic(manifestFile(s.version)) { out =>
      out.writeLong(s.version)
      out.writeUTF(s.tombLocal.getOrElse(""))
      val all = s.live.valuesIterator.flatten.toVector
      out.writeInt(all.size); all.foreach(out.writeUTF)
      out.writeInt(s.retired.size)
      s.retired.foreach { r =>
        out.writeUTF(r.path); out.writeLong(r.version); out.writeLong(r.millis)
      }
    }

  /** Parsed manifests by version — immutable once written, so the cache
    * never staleness-checks; bounded by eviction. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Snapshot]()

  private def manifestAt(v: Long): Snapshot = {
    val hit = manifestCache.get(v)
    if (hit != null) hit
    else {
      val s = StoreSnapshot.manifest(stateFs, storeRoot, v)
      if (manifestCache.size > 16) manifestCache.clear()
      manifestCache.put(v, s)
      s
    }
  }

  private def publishedSnapshot(): Option[Snapshot] = {
    val v = readCurrentVersion()
    if (v < 0) None else Some(manifestAt(v))
  }

  /** The file-layout snapshot governing a read: the writer's in-progress
    * generation on the thread holding the lease, else the published
    * manifest. A store mid-FIRST-build has files on disk but nothing
    * published yet: a concurrent reader sees the empty store (atomic
    * batches), never the half-merged files. */
  private def snapshotNow(): Snapshot = {
    val p = pending
    if (p != null && Thread.currentThread().getId == writerThread) p
    else publishedSnapshot().getOrElse(Executer.Unpublished)
  }

  // ---- model mutators (writer-side, under the lease) -------------------

  private def modelAddFiles(rels: Seq[String]): Unit = if (rels.nonEmpty) {
    val byTable = rels.groupBy(tableOf)
    val live = byTable.foldLeft(pending.live) { case (acc, (t, fs)) =>
      acc.updated(t, acc.getOrElse(t, Vector.empty) ++ fs)
    }
    pending = pending.copy(live = live)
    pendingDirty = true
  }

  /** Retire every live file under one partition directory (store-relative,
    * e.g. "reduce_tree/level=1/part=3"). The files stay on disk for
    * retained snapshots; GC removes them at publish time once both
    * retention conditions pass. */
  private def modelRetireDir(dirRel: String): Unit = {
    val table = tableOf(dirRel)
    val prefix = dirRel + "/"
    val (dead, keep) =
      pending.live.getOrElse(table, Vector.empty).partition(_.startsWith(prefix))
    retirePaths(dead, keepLive = pending.live.updated(table, keep))
  }

  private def modelRetireTable(table: String): Unit =
    retirePaths(pending.live.getOrElse(table, Vector.empty),
      keepLive = pending.live - table)

  private def retirePaths(dead: Seq[String],
      keepLive: Map[String, Vector[String]]): Unit = {
    pendingDirty = true
    if (dead.isEmpty) { pending = pending.copy(live = keepLive); return }
    val now = System.currentTimeMillis()
    pending = pending.copy(
      live = keepLive,
      retired = pending.retired ++
        dead.map(Retired(_, pending.version + 1, now)))
  }

  private def modelSetTombLocal(ref: Option[String]): Unit = {
    val old = pending.tombLocal
    pending = pending.copy(tombLocal = ref)
    pendingDirty = true
    old.filter(o => !ref.contains(o)).foreach(o =>
      retirePaths(Seq(o), keepLive = pending.live))
  }

  /** Land the pending generation: GC retired files old enough that no
    * retained snapshot can reference them, write `m<version+1>`, flip
    * `_current`. No-op when nothing changed since the last publish. */
  private def publishPending(): Unit = {
    if (!pendingDirty) return
    val v = pending.version + 1
    val now = System.currentTimeMillis()
    val (drop, keep) = pending.retired.partition(r =>
      v - r.version >= config.manifestRetention &&
        now - r.millis >= config.manifestGraceMs)
    drop.foreach { r =>
      try fs.delete(new Path(s"$storePath/${r.path}"), false)
      catch { case _: java.io.IOException => () }
    }
    val next = pending.copy(version = v, retired = keep)
    writeManifest(next)
    writeLocalAtomic(currentPath)(_.writeLong(v))
    // Old manifest files: unreferenced once no retained snapshot can
    // resolve them; same double condition as data files.
    if (exists(manifestsPath)) fs.listStatus(new Path(manifestsPath)).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("m") && !name.contains(".")) {
        val mv = try name.drop(1).toLong catch { case _: NumberFormatException => v }
        if (v - mv >= math.max(config.manifestRetention.toLong, 4L) &&
            now - st.getModificationTime >= config.manifestGraceMs)
          fs.delete(st.getPath, false)
      }
    }
    pending = next
    pendingDirty = false
    manifestCache.put(v, next)
  }

  /** Hadoop `FileSystem.rename` reports many failures (destination
    * exists, source vanished, some HDFS permission/quota cases) by
    * returning FALSE rather than throwing. Every rename in a mutation
    * path must abort on false: proceeding would delete the staging dir
    * (silently destroying the un-renamed file) or publish a manifest
    * naming a file that never landed. */
  private def renameOrFail(src: Path, dest: Path): Unit =
    if (!fs.rename(src, dest))
      throw new java.io.IOException(s"rename failed: $src -> $dest")

  /** Rename every data file under `<destPath>.staging` into the
    * destination (additive — existing files untouched), delete the
    * staging dir, and return the new files' store-relative paths. */
  private def mergeStagedDir(destPath: String): Vector[String] = {
    val staging = new Path(s"$destPath.staging")
    val table = new Path(destPath).getName
    def walk(p: Path, rel: String): Vector[String] =
      fs.listStatus(p).toVector.flatMap { st =>
        val childRel =
          if (rel.isEmpty) st.getPath.getName else s"$rel/${st.getPath.getName}"
        if (st.isDirectory) walk(st.getPath, childRel)
        else if (st.getPath.getName.endsWith(".parquet")) Vector(childRel)
        else Vector.empty
      }
    val rels = if (fs.exists(staging)) walk(staging, "") else Vector.empty
    // Driver-side FS round trips, batched and parallelized (VERDICT r6
    // #2: the sandboxed driver's FS latency amplified the per-file
    // sequential loop 5-7×): mkdirs once per DIRECTORY, then the
    // renames — independent by construction (distinct sources, distinct
    // destinations) — fan out on the common pool. Any failure still
    // aborts BEFORE the staging delete below: the file would otherwise
    // be destroyed with the staging dir while the pending generation
    // already names its destination.
    rels.map(r => new Path(s"$destPath/$r").getParent).distinct
      .foreach(fs.mkdirs)
    val firstErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def rename(r: String): Unit =
      // Short-circuit once a rename failed: the whole merge aborts on
      // firstErr anyway, and each remaining blocking FS call would only
      // delay surfacing it.
      if (firstErr.get == null) {
        try renameOrFail(new Path(s"$destPath.staging/$r"), new Path(s"$destPath/$r"))
        catch { case t: Throwable => firstErr.compareAndSet(null, t) }
      }
    // Dedicated bounded pool, NOT the JVM-wide commonPool (ADVICE r7):
    // these are blocking filesystem calls, and parking them on
    // ForkJoinPool.commonPool could starve any other common-pool user
    // on the driver for the duration of the fan-out. Small batches
    // rename inline — thread startup would cost more than it saves.
    if (rels.size <= 4) rels.foreach(rename)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, rels.size))
      try {
        rels.foreach(r => pool.execute(() => rename(r)))
        pool.shutdown()
        // A timeout MUST abort (code-review r8): proceeding would delete
        // the staging dir with un-renamed files still in it while the
        // pending generation names their destinations — exactly the
        // destruction renameOrFail exists to prevent.
        if (!pool.awaitTermination(1L, java.util.concurrent.TimeUnit.HOURS))
          firstErr.compareAndSet(null, new java.io.IOException(
            s"mergeStagedDir: rename fan-out timed out for $destPath"))
      } finally pool.shutdownNow()
    }
    if (firstErr.get != null) throw firstErr.get
    fs.delete(staging, true)
    rels.map(r => s"$table/$r")
  }

  /** Stage-write `df` and merge its data files into `destPath`; returns
    * the new store-relative paths (NOT yet added to the model — callers
    * retire replaced dirs first, then add). */
  private def stagedWriteIn(df: DataFrame, destPath: String,
      partitionCols: Seq[String], clustered: Boolean): Vector[String] = {
    val staging = s"$destPath.staging"
    val pcols = partitionCols.map(col)
    val arranged =
      if (partitionCols.isEmpty) df
      else if (clustered) df.sortWithinPartitions(pcols :+ $"reduce_key": _*)
      else df.repartition(pcols: _*)
        .sortWithinPartitions(pcols :+ $"reduce_key": _*)
    val w = arranged.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging)
    mergeStagedDir(destPath)
  }

  /** Shuffle width for the distributed maintenance branch. Narrow
    * (8-wide, AQE off) ONLY when both hold: the store declares a small
    * shape (fanIn ≤ 32 parents), AND the batch itself is driver-small
    * (`idsSmall`: ≤ driverDirtyLimit documents — the branch is reached
    * when the dirty PAIR set overflowed, which a few hundred docs with
    * wide key fan-out do, q77's shingle updates being the measured
    * case: most of its wall clock was scheduling 32-wide stages over
    * kilobyte partitions). A batch that is large in DOCUMENTS is the
    * unbounded path by definition and keeps the session width and
    * AQE's skew handling regardless of the store declaration
    * (code-review r7). */
  private def distributedWidth[A](batchSmall: Boolean)(f: => A): A =
    if (batchSmall && config.fanIn <= 32)
      withTinyShuffle(8, codegenOff = false)(f)
    else f

  /** [[withTinyShuffle]] sized for a driver-small batch: a tiny one
    * runs single-partition and interpreted, a larger one at a fixed
    * 8-wide with codegen on. */
  private def withBatchShuffle[A](tiny: Boolean)(f: => A): A =
    withTinyShuffle(if (tiny) 1 else 8, codegenOff = tiny)(f)

  /** Run tiny maintenance queries with 1-partition, non-adaptive
    * shuffles. In the driver-pruned path every shuffle moves ≤
    * [[DriverDirtyLimit]] rows by construction, but at the session's
    * defaults each action still fans out into one Spark job per AQE
    * stage at the full shuffle width — measured 25 jobs (~6 s of pure
    * scheduler/commit latency) for a 1-document update. With AQE off and
    * one shuffle partition the same update is a handful of single-stage
    * jobs; the update cost becomes O(dirty), not O(session width).
    * Safe to scope via session conf: the store lease guarantees no
    * concurrent maintenance, and reads (query/queryAll) never pass
    * through here. */
  private def withTinyShuffle[A](
      parts: Int = 1, codegenOff: Boolean = true)(f: => A): A = {
    val saved = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> parts.toString,
      // Whole-stage codegen compiles a new class per plan, and the
      // maintenance plans embed per-batch pruning literals — so a TINY
      // update would pay Janino compilation for rows it can count on one
      // hand; interpreted execution wins there. A multi-hundred-doc batch
      // rewrites enough rows that compiled row processing wins instead —
      // the caller picks per batch size.
      "spark.sql.codegen.wholeStage" -> (!codegenOff).toString,
      // Keep partition discovery of the (≤ fanIn-directory) state tables
      // on the driver: below this threshold no listing Spark job is
      // launched, and listing ≤256 directories driver-side is microseconds
      // on any filesystem worth running on.
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "4096",
      // The bounded probes/state reads here are limit(k).collect() —
      // CollectLimit's take ramp-up (1 partition, then 4×…) turns each
      // into 2–3 tiny Spark jobs over the handful-of-partition pruned
      // scans. Covering the whole scan in the FIRST pass makes every
      // bounded collect exactly one job; the limit still caps rows.
      "spark.sql.limit.initialNumPartitions" -> "256"
    ).map { case (k, v) =>
      val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old
    }
    try f finally saved.foreach { case (k, old) =>
      old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private def fs: FileSystem =
    FileSystem.get(URI.create(storePath), spark.sparkContext.hadoopConfiguration)

  /** Checksum-free filesystem for the tiny driver-local STATE files
    * (`_seq`, `_current`, manifests, tombstone sets,
    * the local dirty WAL). Hadoop's local ChecksumFileSystem renames a
    * file and its `.crc` sidecar as two separate metadata ops, so a
    * reader could open a just-renamed state file against the stale
    * sidecar and die with ChecksumException — a spurious retriable error
    * under churn (and the one error class manifest reads would otherwise
    * still have). State files are single-block and atomically renamed;
    * checksums buy nothing there. Data files (parquet) keep checksums.
    * Shared per (scheme, authority) across Executer instances — the ops
    * layer creates many short-lived instances per process, and a
    * per-instance `FileSystem.newInstance` would leak a client (DFS
    * socket caches etc.) for each. */
  private lazy val stateFs: FileSystem = Executer.stateFsFor(
    URI.create(storePath), spark.sparkContext.hadoopConfiguration)

  private def exists(path: String): Boolean = fs.exists(new Path(path))

  /** Write a small driver-local state file atomically: write a sibling
    * `.tmp`, close, then rename over the destination with
    * `FileContext.rename(OVERWRITE)` — atomic on HDFS and on the local
    * FS. The destination is always either the previous complete file or
    * the new complete file, never a truncation: an in-place
    * `create(overwrite=true)` rewrite (the previous spelling) could be
    * interrupted mid-write, after which every read of the file throws
    * EOFException (store bricked) and deleting it by hand would silently
    * resurrect invalidated rows (tombstones) or lose the dirty set. */
  private def writeLocalAtomic(path: String)(
      write: java.io.DataOutputStream => Unit): Unit = {
    val tmp = fs.makeQualified(new Path(path + ".tmp"))
    val dest = fs.makeQualified(new Path(path))
    val out = new java.io.DataOutputStream(stateFs.create(tmp, true))
    try write(out) finally out.close()
    val scheme = dest.toUri.getScheme
    if (scheme == null || scheme == "file") {
      // FileContext.rename(OVERWRITE) on the local FS is delete-then-
      // rename — a concurrent reader could observe the destination
      // MISSING between the two. POSIX rename(2) replaces atomically.
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      // HDFS (and HDFS-like) implement overwrite renames atomically
      // server-side.
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        tmp.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  // ---------------------------------------------------------------------
  // Ingest / update — mirrors `Executer.Execute` (`Executer.cs:31-45`)
  // ---------------------------------------------------------------------

  /** One ingest-or-update batch — the reference's `Execute`
    * (`Executer.cs:31-45`). Prepares the documents (auto-collect,
    * duplicate-id check, map-contract guard, a local batch's driver-side
    * map), builds a store's first batch, and hands every later one to
    * [[maintainBatch]], which [[deleteDocuments]] shares:
    * delete-and-invalidate the incoming ids' prior contributions
    * (`Executer.cs:240-261`), persist the new map output, then
    * incrementally re-reduce only the dirty subtrees.
    *
    * Job-count discipline (the incremental-latency contract): an update
    * must cost O(dirty) *plus a bounded number of Spark actions* — fixed
    * per-job scheduler/commit latency, not data volume, dominates a small
    * update, so the batch is organized as few, pushdown-pruned actions:
    * the incoming docs are persisted once and every downstream scan of
    * existing state uses driver-side `isin` pruning (partition values +
    * doc ids + reduce keys), which parquet row-group stats can skip. */
  def execute(docs: Dataset[D]): Unit = withLease {
    // A surviving WAL from a crashed batch must be replayed BEFORE new
    // work, or this batch's WAL write would silently discard it and the
    // crashed batch's dirty subtrees would never be repaired (the
    // reference replays pending Schedule markers on every Execute,
    // `Executer.cs:35`). No-op on a clean store.
    recoverLocked()
    val t0 = System.nanoTime()
    val t = task // local val: closures must not capture `this`
    val batchSeq = bumpSeq()
    // A batch submitted as a small LOCAL dataset (createDataset — the
    // shape of every maintenance loop feeding driver-collected
    // micro-batches) needs no persist: its rows live on the driver, and
    // skipping the persist keeps `docs.collect()` a driver-side row
    // decode (LocalTableScanExec short-circuit, no Spark job) for the
    // ids probe below — persisting would cache-substitute the plan and
    // turn that collect into a job.
    // A DISTRIBUTED batch that is actually driver-small is collected
    // once and re-planned as a LocalRelation, so every driver-local
    // fast path below (driver-side map, job-free probes, driver-merged
    // delta, driver-written files) applies to it — the reference's
    // single-node update model, recovered for callers that hand us a
    // small scan (a streaming micro-batch, a dimension-table read)
    // instead of createDataset rows. Gated on a SHUFFLE-FREE plan —
    // probing through an exchange would compute the whole upstream
    // once for the probe and again for the batch — and on one bounded
    // take(): a batch past the bound pays one partial scan of its
    // narrow plan and continues distributed unchanged.
    val docsL: Dataset[D] = docs.queryExecution.logical match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        docs
      case _ if Executer.narrowBatchPlan(docs.queryExecution.optimizedPlan) &&
          docs.queryExecution.optimizedPlan.stats.sizeInBytes <=
            DriverBatchCollectMaxBytes =>
        val probe = docs.take(DriverDirtyLimit + 1)
        if (probe.length <= DriverDirtyLimit)
          spark.createDataset(probe.toIndexedSeq)(docs.encoder)
        else docs
      case _ => docs
    }
    val localSmall = docsL.queryExecution.logical match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        if lr.data.length <= DriverDirtyLimit => true
      case _ => false
    }
    val docsP = if (localSmall) docsL else docsL.persist()
    try {
      // For a local batch the user's map runs ON THE DRIVER, once — the
      // reference's single-node update model (`Executer.cs:31-45`)
      // applied where it is genuinely cheaper: the output becomes a
      // LocalRelation plan (no persist, no materialization job), the
      // batch's new dirty pairs are computable without any Spark job,
      // and the cluster never re-executes the map function for it.
      val localDocRows: Option[Seq[D]] =
        if (localSmall) Some(docsL.collect().toSeq) else None
      // Map-output CONTRACT GUARD (VERDICT r12 #2): a task's map must emit
      // `(documentId(doc), entry)` pairs (`MapReduceTask.scala:9`; the
      // reference emits `person.Id`, `PeopleCountByState.cs:11-16`). The
      // engine persists map rows under the EMITTED id but invalidates by
      // `documentId(doc)` (deliberately — zero-emit docs must still
      // invalidate), so an id outside the batch silently corrupts the
      // store: new-doc updates lose prior contributions, existing-doc
      // updates double-count. Reject it LOUDLY instead. Local batches
      // check the exact batch id set on the driver (free); distributed
      // batches check inside the map pipeline itself — emitted id ∈ the
      // partition's consumed-so-far ids — which is job-free, throws in
      // the FIRST action that materializes the map output (before any
      // mutation lands on the update path), and is sound for any
      // physically-realizable task (an id can only be known by reading
      // its document). Both sides compare post-normalization (the same
      // UTF8String upper-casing the engine stores under).
      def contractError(id: String): Nothing =
        throw new IllegalArgumentException(
          s"map output emitted document id '$id' which is not the " +
            "documentId of any document in this batch: MapReduceTask.map " +
            "must emit (documentId(doc), entry) pairs — any other id " +
            "corrupts delete-and-invalidate (rows persist under the " +
            "emitted id, invalidation keys on documentId)")
      // A local batch's ids are normalized once, in batch order: the
      // duplicate check (see [[dupIdError]]; a distributed batch's runs
      // in the first build's probe or [[maintainBatch]]'s ids probe)
      // builds the set that the contract guard and the ids probe read.
      val localIds: Option[scala.collection.Set[String]] =
        localDocRows.map { ds =>
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          ds.foreach { d =>
            val id = Executer.normDocId(t.documentId(d))
            if (!seen.add(id)) dupIdError(id)
          }
          seen
        }
      val localMapped: Option[Seq[(String, String, R)]] = localDocRows.map { ds =>
        val batchIds = localIds.get
        t.map(ds.iterator).map { case (id, r) =>
          val norm = Executer.normDocId(id)
          if (!batchIds.contains(norm)) contractError(id)
          (norm, t.reduceKey(r), r)
        }.toSeq
      }
      // The batch's Spark plans (`mappedBase`/`mapped`, the id
      // projection and everything derived from them) are lazy: the
      // distributed spelling builds each right before the action that
      // needs it, while a driver-resident batch builds one only when a
      // gate trips and a fallback runs it — its common path analyzes no
      // plan at all.
      lazy val mappedBase: DataFrame = localMapped match {
        case Some(rows) =>
          spark.createDataset(rows)(encKR).toDF("doc_id", "reduce_key", "payload")
        case None => docsP
          .mapPartitions { it =>
            // Streaming guard: record each consumed doc's id, check each
            // emitted id against the recorded set at emit time. The set
            // holds 64-bit composite hashes in a primitive open table,
            // not strings — 8–16 bytes per document instead of ~100, so
            // a dense 128 MB scan partition costs a couple of MB. The
            // error is ONE-SIDED: a legal emit's own hash is always
            // present (same string, same hash), so conforming tasks are
            // never flagged; a violating id escapes only on a 64-bit
            // collision with some consumed id (~n·2⁻⁶⁴ per emit).
            def h64(s: String): Long = {
              val norm = Executer.normDocId(s)
              (scala.util.hashing.MurmurHash3.stringHash(norm).toLong << 32) |
                (norm.hashCode.toLong & 0xffffffffL)
            }
            val seen = new org.apache.spark.util.collection.OpenHashSet[Long]()
            val recorded = it.map { d => seen.add(h64(t.documentId(d))); d }
            // Memoize the last verified id: tasks emit their rows in
            // per-document runs (a shingle index emits hundreds per doc),
            // so the steady-state guard cost is one string equals, not a
            // normalize+hash per emitted row.
            var lastOk: String = null
            t.map(recorded).map { case (id, r) =>
              if (id != lastOk) {
                if (!seen.contains(h64(id)))
                  throw new IllegalArgumentException(
                    s"map output emitted document id '$id' which is not " +
                      "the documentId of any document consumed in this " +
                      "partition: MapReduceTask.map must emit " +
                      "(documentId(doc), entry) pairs — any other id " +
                      "corrupts delete-and-invalidate")
                lastOk = id
              }
              (id, t.reduceKey(r), r)
            }
          }
          .toDF("doc_id", "reduce_key", "payload")
      }
      lazy val mapped: DataFrame = mapColumns(mappedBase, batchSeq)

      // Incoming ids come from documentId over the *documents*, not from
      // map output: a doc that now maps to zero entries must still
      // invalidate its previous contributions (`Executer.cs:89-91`).
      // ONE spelling of the id projection (normalization included) —
      // the dup probes derive from it, so the ids the guards check are
      // by construction the ids the engine stores.
      lazy val incomingIdsRaw = docsP
        .map(d => t.documentId(d)).toDF("doc_id")
        .select(upper($"doc_id") as "doc_id")

      if (pending.live.getOrElse("map_results", Vector.empty).isEmpty) {
        var jobs = 0
        // The duplicate-id contract holds on the initial build too
        // (ADVICE r6): local batches were checked driver-side above, but
        // a DISTRIBUTED first build used to skip the ids-probe entirely —
        // two versions of one doc would both land under the same seq and
        // double-count forever (tombstones only invalidate seq <
        // batchSeq, so delete-and-invalidate never repairs intra-batch
        // dups). One narrow aggregation job over the ids is O(data) like
        // the build itself and catches the state the guard documents as
        // rejected loudly.
        // The probe doubles as a batch-size measurement: the same single
        // job returns (distinct ids, total docs, max versions per id),
        // so dup detection AND the small-build decision below cost one
        // aggregation. The failure path re-queries to NAME the dup id —
        // an error path may be expensive.
        val batchDocs: Long =
          if (localSmall) localDocRows.get.length.toLong
          else {
            jobs += 1
            val r = incomingIdsRaw
              .groupBy($"doc_id").agg(count(lit(1)) as "n")
              .agg(count(lit(1)), sum($"n"), max($"n")).collect()(0)
            // sum/max are NULL over an empty batch (zero groups).
            if (!r.isNullAt(2) && r.getLong(2) > 1L) {
              val dup = incomingIdsRaw
                .groupBy($"doc_id").agg(count(lit(1)) as "n")
                .where($"n" > 1L).limit(1).collect()
              dupIdError(dup(0).getString(0))
            }
            if (r.isNullAt(1)) 0L else r.getLong(1)
          }
        // Initial build fast path: everything is dirty, so skip the dirty
        // set entirely — no WAL round-trip, no semi-join pruning, no
        // staging renames (the partials/finals tables don't exist yet).
        // Crash safety: a one-row sentinel in the driver-local WAL marks
        // "full rebuild pending" (a single create+close, not a Spark
        // write job), written BEFORE the map write like every other WAL
        // (a crash at any point replays rereduceAll over whatever map
        // state committed — empty or complete, both consistent).
        // SMALL builds run their two write jobs at a narrow shuffle
        // width with AQE off (same rationale as the update path's
        // withTinyShuffle: at a few thousand docs the session-width
        // shuffle and AQE re-planning are pure scheduler latency).
        // Doc count alone does not bound what the jobs SHUFFLE — map
        // output amplifies per doc (a shingle index emits hundreds of
        // rows each) — so the narrow width also requires the DECLARED
        // small store shape (fanIn ≤ 32, the author's statement that
        // total state is small); wide stores keep session width + AQE
        // regardless of batch size (code-review r7).
        val smallBuild = config.fanIn <= 32 && batchDocs <= 100000
        def buildWrites(): Unit = {
          writeDirtyLogLocal(Seq(("", FullRebuild)))
          // A driver-local batch on a declared-small store skips the
          // clustering shuffle + cache entirely: the map rows are
          // already on the driver, so both reduce levels are computed
          // as plain Scala group-reduces and both tables land as
          // driver-written files (buildFromLocalMap). Same WAL-first
          // crash contract either way.
          if (localSmall) buildFromLocalMap(localMapped.get, batchSeq)
          else { buildFromMapOutput(mapped); jobs += 2 }
          clearDirtyLog()
        }
        if (smallBuild) withTinyShuffle(8, codegenOff = false)(buildWrites())
        else buildWrites()
        _lastStats = Some(MaintenanceStats("build", jobs, -1, -1, -1,
          (System.nanoTime() - t0) / 1000000))
      } else
        maintainBatch(batchSeq, t0, localIds.map(_.toIndexedSeq),
          incomingIdsRaw, localMapped, mapped, purge = false)
    } finally if (!localSmall) docsP.unpersist()
    _lastStats.foreach(s => log.info(s"execute: $s"))
  }

  /** One version per document per batch — REJECTED LOUDLY otherwise.
    * Tombstones only invalidate seq < batchSeq, so two versions of a doc
    * in one batch would BOTH survive and silently double-count its
    * contributions forever (the reference's per-doc Execute can't
    * express this state; a batch is our extension, and its contract is
    * delete-and-invalidate per id). Callers coalescing micro-batches
    * dedupe last-wins first (as ManifestChurnProps does). Local batches
    * check free on the driver; distributed batches detect it in the ids
    * probe job. */
  private def dupIdError(id: String): Nothing =
    throw new IllegalArgumentException(
      s"batch contains multiple documents with id '$id': submit one " +
        "version per document per batch (dedupe last-wins upstream)")

  /** The maintenance of one batch on a built store — the path
    * [[execute]] and [[deleteDocuments]] share (a purge is a batch with
    * no documents). Runs everything from the ids probe on: the incoming
    * parents, the pre-batch snapshot, the stale probe, the rebuild
    * choice, the delta / driver-pruned / distributed spelling with its
    * tombstones and append, publish, and the tombstone fold.
    *
    * @param heldIds the batch's normalized, distinct ids when the driver
    *   holds them (a local batch, a purge list); None for a distributed
    *   batch, whose ids the probe collects from `idsRaw`
    * @param idsRaw the ids as a normalized one-column (`doc_id`) plan; a
    *   distributed batch's may repeat an id, which the probe rejects
    * @param localMapped the map output as driver rows (doc_id,
    *   reduce_key, payload), empty for a purge; None when the map output
    *   is only a plan
    * @param mapped the map output with the map table's columns, built
    *   only when a Spark spelling reads it
    * @param purge the batch has no documents: its stats read
    *   `delete-docs` */
  private def maintainBatch(batchSeq: Int, t0: Long,
      heldIds: Option[IndexedSeq[String]], idsRaw: => DataFrame,
      localMapped: Option[Seq[(String, String, R)]], mapped: => DataFrame,
      purge: Boolean): Unit = {
    var jobs = 0
    val t = task
    lazy val incomingIdsRaw = idsRaw
    lazy val incomingIds = incomingIdsRaw.distinct()
    // ---- probe 1: the incoming ids (bounded collect) ------------------
    // Held ids need no job; `Executer.normDocId` matches the SQL
    // `upper()` the distributed probe applies (JDK-locale upper would
    // diverge on e.g. dotted-I). Distributed batches keep the bounded
    // collect.
    val idsProbe: IndexedSeq[String] = heldIds.getOrElse {
      jobs += 1
      // Same single job as a distinct-collect, but grouped WITH counts
      // so intra-batch duplicate ids are detected for free (see
      // dupIdError; past the driver limit the check covers only the
      // collected prefix — documented best-effort on huge batches).
      val counts = incomingIdsRaw
        .groupBy($"doc_id").agg(count(lit(1)) as "n")
        .limit(DriverDirtyLimit + 1).collect()
      counts.find(_.getLong(1) > 1L)
        .foreach(r => dupIdError(r.getString(0)))
      counts.map(_.getString(0)).toIndexedSeq
    }
    val idsSmall = idsProbe.length <= DriverDirtyLimit
    // Every id of the batch is on the driver: a held list of any size, or
    // a probe that did not overflow. No Spark job collects them again.
    val idsOnDriver = heldIds.isDefined || idsSmall

    // A document's bucket (hence `parent` partition) is a pure
    // function of its id — so every prior contribution of the
    // incoming ids lives in the parents of the incoming ids
    // (≤ fanIn values). Driver-held ids give them with zero extra
    // jobs; an overflowed probe pays one bounded distinct/collect.
    // This replaces the reference's per-doc directory lookup
    // (`Executer.cs:245-250`).
    val incomingParents: Seq[Int] =
      if (idsOnDriver)
        idsProbe.map(Executer.parentOf(_, config.fanIn)).distinct.sorted
      else {
        jobs += 1
        incomingIds
          .select((StableBucketHash.stableBucket($"doc_id", config.buckets)
            / lit(config.fanIn)).cast("int") as "parent")
          .distinct().as[Int].collect().sorted.toSeq
      }
    // The PRE-batch generation, captured now: every read of the
    // incoming parents' prior rows below (the driver probe read and,
    // on a fallback, `existing`) resolves THIS snapshot, so a plan
    // first built after this batch's tombstones and append have
    // landed in the pending generation still sees the rows they
    // replace — never the batch's own writes.
    val preBatch = snapshotNow()
    lazy val existing = readMapResultsAt(preBatch)
      .where($"parent".isin(incomingParents.map(Integer.valueOf): _*))

    // Merge-on-read invalidation (the reference's per-doc file delete,
    // `Executer.cs:253-258`, at O(batch) write cost): tombstone the
    // incoming ids — their pre-batch rows die at read time. ONE rule
    // for every spelling: the local file exactly when all the batch's
    // ids are on the driver, else a parquet append of the id set (one
    // O(batch) job).
    def tombstone(): Unit =
      if (idsOnDriver) addTombstonesLocal(idsProbe, batchSeq)
      else { addTombstonesDist(incomingIds, batchSeq); jobs += 1 }

    // ---- probe 2: the dirty (key, parent) set -------------------------
    // Prior contributions of incoming ids — across ALL reduce keys
    // the doc previously mapped to (`Executer.cs:253-258`) — plus the
    // pairs of the new map output. Small batches find stale rows with
    // pushed-down id filters (no join, no shuffle); this action also
    // materializes `mapped` into the block cache so the map function
    // runs exactly once per batch. The provenance flag (pair seen on
    // a stale row vs only on new map output) picks the append fast
    // path below.
    lazy val mappedP = if (localMapped.isDefined) mapped else mapped.persist()
    def maintain(): Unit = {
      lazy val stale =
        if (idsSmall) existing.where($"doc_id".isin(idsProbe: _*))
        else existing.join(incomingIds, Seq("doc_id"), "left_semi")
      lazy val dirtyDF = stale
        .select($"reduce_key", $"parent", lit(true) as "is_stale")
        .union(mappedP.select($"reduce_key", $"parent", lit(false) as "is_stale"))
        .distinct()
      // A "tiny" batch (couple dozen docs) also runs interpreted and
      // single-partition; larger driver-pruned batches keep codegen
      // and a narrow fixed width.
      val tinyBatch = idsSmall && idsProbe.length <= 64
      // Width policy for the small-PAIRS branch: narrow fixed-width
      // non-adaptive shuffles are right only when the BATCH is
      // driver-small too. A batch large in documents (idsSmall
      // false) can collapse to a small dirty pair set (few reduce
      // keys) while its level-0 re-reduce still reads a
      // corpus-scale slice — running THAT at 8-wide with AQE off
      // under-parallelized the session 4× and forced sort-merge
      // where AQE would broadcast the id set (measured: the 10k-doc
      // lineitem update at 17.5s, most of it this; session width
      // takes it to ~1/3). Such batches keep session width + AQE.
      def smallBatchWidth[A](f: => A): A =
        if (idsSmall)
          withBatchShuffle(tinyBatch)(f)
        else f
      // The batch's map output as new files in their parent
      // directories, returned for the model to name: driver rows as
      // per-parent files (no job), else one job via staging. Both merge
      // in by the same additive renames, which tell the model EXACTLY
      // which files this batch added — no listing diff that could adopt
      // a crashed batch's orphans. A crash between the renames and the
      // publish leaves orphans compact() sweeps.
      def appendMap(): Vector[String] = localMapped match {
        case Some(rows) => appendMapDriverFiles(rows, batchSeq)
        case None =>
          mappedP.repartition($"parent")
            .sortWithinPartitions($"parent", $"reduce_key")
            .write.partitionBy("parent")
            .mode("overwrite").parquet(s"$mapResultsPath.staging")
          mergeStagedDir(mapResultsPath)
      }
      // The map-output append and the reduce-tree rewrite are
      // independent by construction: the tree rewrite's level-0
      // input is the pre-batch snapshot's rows (`preBatch`, read on
      // the driver or, on a fallback, through `existing`) plus the
      // new map output, never the appended files. So
      // the append runs as a concurrent action and the update's
      // wall clock pays max(append, tree-rewrite) instead of their
      // sum. The rename fan-out is pure filesystem work and merged
      // files stay invisible until the model names them at publish,
      // so it runs there too; only the model mutation stays on the
      // writer thread. Crash contract is unchanged: a failure of
      // either leaves the WAL in place and nothing published, so
      // recovery re-reduces the previous generation (the batch is
      // invisible) and re-submitting the batch completes it.
      def startAppend(): () => Unit = {
        if (localMapped.isEmpty) jobs += 1
        val session = spark
        val fut = java.util.concurrent.CompletableFuture.supplyAsync { () =>
          // SQLConf.get in the job thread resolves via the active-
          // session thread-local; a fresh pool thread has none.
          org.apache.spark.sql.SparkSession.setActiveSession(session)
          appendMap()
        }
        () => modelAddFiles(fut.join())
      }
      // The probe: (distinct dirty pairs, any stale row seen, probe
      // overflowed past the driver limit). Local batches know their
      // NEW pairs already (the map ran driver-side), so the probe job
      // scans only the STALE side — filter + distinct on the incoming
      // parents, no union with map output, no cache materialization.
      // Distributed batches keep the combined probe, which also
      // materializes `mappedP` into the block cache so the map
      // function runs exactly once per batch.
      // Delta-eligible local batches collect the stale rows WITH
      // payloads: the driver merge (rereduceDeltaDriver) negates
      // them without a second scan. The raw-row bound is tighter
      // than the old distinct-pair bound — overflow only routes to
      // the heavier distributed path, never changes results.
      // Local batches: ONE driver-side file read of the incoming
      // parents' live map rows ([[readMapParentsDriver]] — the
      // probe's whole input at ≤[[DriverMapReadMaxBytes]]) serves
      // the stale probe with no Spark job AND, retained rows
      // included, the pruned recompute's level-0 source below. A
      // batch whose read gate trips (distributed tombstones, bytes
      // past the ceiling, a read error) keeps the bounded collect
      // job.
      var staleLocalRows: Option[Array[(String, Int, R)]] = None
      var liveParentRows: Option[Vector[(String, Int, String, Int, R)]] =
        None
      val (pairs, anyStale, probeOverflow) = localMapped match {
        case Some(newRows) =>
          val newPairs = newRows.map { case (id, key, _) =>
            (key, Executer.parentOf(id, config.fanIn))
          }.distinct
          // A delta task never reads the parents' other rows: its
          // merge needs only the incoming docs' own.
          val driverProbe = readMapParentsDriver(preBatch,
            incomingParents, idsProbe.toSet,
            allRows = !(t.deltaReducible && t.singleOutput))
          liveParentRows = driverProbe.flatMap(_._2)
          driverProbe match {
            case Some((staleVec, _)) =>
              // Exactly `stale`'s rows: live (tombstone-overlaid)
              // pre-batch rows of the incoming parents, restricted
              // to the incoming ids. Same overflow decision as the
              // collect spelling — both truncate at the same bound.
              val staleRows = staleVec.toArray
              val all = (staleRows.iterator.map(r => (r._1, r._2))
                ++ newPairs.iterator).toSeq.distinct
              val overflow = staleRows.length > DriverDirtyLimit ||
                all.length > DriverDirtyLimit
              if (!overflow && t.deltaReducible && t.singleOutput)
                staleLocalRows = Some(staleRows)
              (all, staleRows.nonEmpty, overflow)
            case None if t.deltaReducible && t.singleOutput =>
              implicit val encKPR: Encoder[(String, Int, R)] =
                Encoders.tuple(Encoders.STRING, Encoders.scalaInt, encR)
              val rows = withBatchShuffle(tinyBatch)(
                stale.select($"reduce_key", $"parent", $"payload")
                  .as[(String, Int, R)]
                  .limit(DriverDirtyLimit + 1).collect())
              jobs += 1
              val all = (rows.iterator.map(r => (r._1, r._2))
                ++ newPairs.iterator).toSeq.distinct
              val overflow = rows.length > DriverDirtyLimit ||
                all.length > DriverDirtyLimit
              if (!overflow) staleLocalRows = Some(rows)
              (all, rows.nonEmpty, overflow)
            case None =>
              val staleRows = withBatchShuffle(tinyBatch)(
                stale.select($"reduce_key", $"parent").distinct()
                  .limit(DriverDirtyLimit + 1).collect())
              jobs += 1
              val all = (staleRows.iterator
                .map(r => (r.getString(0), r.getInt(1)))
                ++ newPairs.iterator).toSeq.distinct
              (all, staleRows.nonEmpty, staleRows.length > DriverDirtyLimit ||
                all.length > DriverDirtyLimit)
          }
        case None =>
          val pairsProbe =
            if (idsSmall)
              withBatchShuffle(tinyBatch)(
                dirtyDF.limit(DriverDirtyLimit + 1).collect())
            else dirtyDF.limit(DriverDirtyLimit + 1).collect()
          jobs += 1
          val overflowed = pairsProbe.length > DriverDirtyLimit
          val sampledStale = pairsProbe.exists(_.getBoolean(2))
          // An OVERFLOWED probe is a truncated sample: a large batch
          // of mostly-new docs plus a few resubmitted ones can fill
          // the whole sample with is_stale=false rows while stale
          // rows exist past the cutoff. Staleness gates tombstoning
          // and old-row negation in the delta path below — trusting
          // the sample there silently skips retraction (ADVICE r8,
          // high). One bounded existence probe (limit-1 over the
          // semi-joined stale side) makes it exact; non-overflowed
          // probes saw the complete set and stay job-free. The
          // local-rows branch is already exact: its stale scan's
          // limit can only truncate NON-empty results.
          val staleExact = sampledStale ||
            (overflowed && { jobs += 1; !stale.isEmpty })
          (pairsProbe.map(r => (r.getString(0), r.getInt(1))).distinct.toSeq,
            staleExact, overflowed)
      }

      // Rebuild-fallback decision (full rationale at its branch
      // below): dirty pair count vs live level-1 pairs, never for
      // driver-small batches. Computed FIRST because it gates both
      // the delta and the recompute paths.
      val dirtyLower: Long =
        if (probeOverflow) DriverDirtyLimit.toLong + 1L else pairs.size.toLong
      val rebuildChosen = anyStale && !idsSmall &&
        dirtyLower >= RebuildCheckFloor && {
          jobs += 1
          val totalPairs = readPartials().count()
          val threshold = config.rebuildDirtyFraction * totalPairs
          if (totalPairs == 0L) false
          else if (dirtyLower >= threshold) true
          else if (!probeOverflow) false
          else {
            // Overflowed probe whose lower bound did not decide:
            // one exact count (bounded by the stale scan the
            // distributed path would run anyway).
            jobs += 1
            dirtyDF.select("reduce_key", "parent").distinct().count() >=
              threshold
          }
        }
      def stats(mode: String, dirtyPairs: Int, dirtyParents: Int): Unit =
        _lastStats = Some(MaintenanceStats(
          if (purge) "delete-docs" else mode, jobs,
          if (idsOnDriver) idsProbe.length else -1, dirtyPairs, dirtyParents,
          (System.nanoTime() - t0) / 1000000))

      // ---- delta maintenance (abelian-group tasks) ----------------
      // The task declared a group inverse (MapReduceTask.negate):
      // the tree is maintained by merging reduce(old⁻ ++ new) into
      // the stored partials/finals — the engine reads the incoming
      // docs' OLD map rows and the touched partials, never the
      // other documents sharing the touched keys. Sibling
      // recomputation pays O(size of touched groups) (a hot
      // shingle's group is the whole corpus); the delta pays
      // O(batch + touched partials). The WAL is written FIRST and
      // recovery replays it through the RECOMPUTE path (rereduce /
      // rereducePruned) — the group laws make the two equivalent,
      // so deltas are a steady-state optimization, never the
      // durability story (DeltaUpdateSpec pins equivalence, zero
      // disappearance, and the crash window).
      // The REBUILD fallback below preempts the delta when its
      // trigger fires: with few reduce keys the delta's savings
      // (not re-reducing untouched contributors) cannot offset the
      // probe + tombstone + append machinery, while the rebuild
      // skips all three and leaves a debt-free store (measured,
      // 456k-doc lineitem store, 10k-doc bulk update: rebuild 7.4s,
      // delta 8.8s, sibling recompute 9.1s). Hot-keyed stores with
      // driver-small batches — the delta's home turf — never meet
      // the rebuild trigger (it requires !idsSmall).
      if (t.deltaReducible && t.singleOutput && !rebuildChosen) {
        def deltaBody(): Unit = {
          if (!probeOverflow) writeDirtyLogLocal(pairs)
          else { writeDirtyLog(dirtyDF); jobs += 1 }
          // Driver merge, first half: gates + the bounded
          // touched-state read kicked async right after the WAL, so
          // it overlaps the tombstone write and the append's driver
          // prep below (it reads only
          // the reduce tree, which this batch mutates solely in the
          // final staged write).
          val mergeStart: Option[() => Boolean] =
            staleLocalRows.flatMap(oldLoc =>
              startRereduceDeltaDriver(oldLoc,
                localMapped.get.map { case (id, key, r) =>
                  (key, Executer.parentOf(id, config.fanIn), r)
                }, pairs))
          if (anyStale) tombstone()
          val appendJoin = startAppend()
          // The incoming docs' live pre-batch rows, built only when
          // the distributed merge below runs: `existing` reads the
          // captured pre-batch snapshot, so the plan never sees this
          // batch's tombstones or append, even though it is built
          // after both have landed in the pending generation.
          lazy val oldRows =
            if (!anyStale) existing.limit(0)
            else if (idsSmall)
              existing.where($"doc_id".isin(idsProbe: _*))
            else existing.join(incomingIds, Seq("doc_id"), "left_semi")
          // Driver merge, second half: join the overlapped read and
          // finish the plain-Scala merge + driver-written tree.
          // False (no state touched — the read overflowed its cap
          // or failed) runs the distributed spelling as before.
          try {
            val mergedLocally = mergeStart.exists(finish => finish())
            if (!mergedLocally) {
              rereduceDelta(oldRows, mappedP,
                if (probeOverflow) None else Some(pairs))
              jobs += 2
            }
          } finally appendJoin()
          stats("delta", if (probeOverflow) -1 else pairs.size, -1)
        }
        if (!probeOverflow) smallBatchWidth(deltaBody())
        else distributedWidth(idsSmall)(deltaBody())
        clearDirtyLog()
        return
      }

      // ---- cost-based rebuild fallback (VERDICT r7 #2) ------------
      // When the dirty pair set approaches the whole reduce tree —
      // a bulk re-submit, a corpus-wide reprocess — incremental
      // maintenance costs MORE than a from-scratch rebuild: it pays
      // the tombstone append, a near-total sibling re-reduce, and
      // leaves a merge-on-read overlay behind, where the rebuild is
      // one clean write per table (measured: 10k-doc update 17.5s vs
      // 6.2s full build on a 456k-doc corpus, BENCH_r07). Decision
      // inputs: the dirty pair count (exact when the probe fit the
      // driver, else lower-bounded by the overflow itself) vs the
      // live level-1 pair count (one metadata-only count job, gated
      // behind RebuildCheckFloor so steady-state small updates never
      // pay it). writePartitioned stages the replacement table and
      // retires the old files in the pending generation, so a crash
      // anywhere leaves the published generation intact — the same
      // atomic-batch contract as any update.
      // Calibration (measured on the 456k-doc lineitem store, 32
      // threads): a 10k-doc bulk update dirtying every pair costs
      // 9.1s incrementally (tombstone + append + near-total
      // re-reduce, leaving 10k live tombstones) vs 8.2s as a
      // rebuild (leaving a compact tombstone-free store) — past the
      // threshold the rebuild is both faster and debt-free. A
      // DRIVER-SMALL batch (idsSmall) never takes the fallback:
      // its invalidation is O(batch) pushdown predicates and its
      // append is tiny, so rewriting the whole map table cannot pay
      // for itself even when the pair set is 100% dirty (measured:
      // q41's 1546-doc orders update, 5.6s fallback vs ~2s
      // incremental).
      if (rebuildChosen) {
        // The first-build sequence, applied to (survivors + batch):
        // FullRebuild WAL sentinel, then one clustered pass whose
        // cached output feeds the whole-table map write and the
        // whole-tree reduce concurrently (buildFromMapOutput). A
        // crash replays rereduceAll over whatever generation is
        // PUBLISHED (the old one until clearDirtyLog's publish) —
        // idempotent, batch invisible, re-submitting completes it
        // (RebuildFallbackSpec pins the kill-mid-fallback window).
        stageRebuildOldKeys()
        writeDirtyLogLocal(Seq(("", FullRebuild)))
        // The trigger requires !idsSmall, so the batch's ids are an
        // anti-join, never a driver isin (code-review r8: a dead
        // driver-small arm here implied support the decision logic
        // forbids).
        val survivors = readMapResults()
          .join(incomingIds, Seq("doc_id"), "left_anti")
        // The rewrite physically excludes every tombstoned row and
        // every prior row of the incoming ids (`survivors`' plan was
        // resolved against the pre-batch snapshot, tombstone overlay
        // included): clear (retire) the tombstone state up front,
        // exactly as a fold would — readers holding pre-rebuild
        // snapshots keep resolving the old tombstone files until GC.
        modelRetireTable("tombstones")
        modelSetTombLocal(None)
        buildFromMapOutput(survivors.unionByName(mappedP)); jobs += 2
        stats("rebuild-fallback", dirtyLower.toInt, -1)
      } else if (!probeOverflow)
        smallBatchWidth {
        // Small dirty set — the common incremental case. Everything
        // downstream is derived from the probe: the WAL is written
        // from driver rows (a no-scan local-relation write), and all
        // state scans use pushed-down isin filters.
        val dirtyParents = pairs.map(_._2).distinct.sorted
        // The dirty set is on the driver — write the WAL directly to
        // the store filesystem (no Spark job, no commit protocol).
        writeDirtyLogLocal(pairs)
        // A pure insert (no stale rows) has nothing to invalidate: the
        // new rows become additional files in their partition
        // directories, with no read-rewrite of existing state at all.
        // Otherwise the ids are tombstoned and the new rows appended,
        // instead of rewriting every dirty parent partition in full;
        // both land in the pending generation only, so a crash between
        // them leaves the batch invisible.
        if (anyStale) tombstone()
        val appendJoin = startAppend()
        // The post-update map rows of the dirty parents, as a plan
        // over the pre-batch snapshot plus the new map output —
        // rereducePruned reduces from this instead of re-reading the
        // just-appended table, and builds it only when its driver
        // spelling falls back. `existing` resolves `preBatch`, so the
        // appended files and the new tombstones are outside it: the
        // post-update view is exactly the old snapshot minus the
        // incoming docs (vacuous for a pure insert), plus the map
        // output. No read-back of the just-written files at all.
        lazy val level0Source: DataFrame = {
          val retained = existing
            .where($"parent".isin(dirtyParents.map(Integer.valueOf): _*))
          val retainedMinusIncoming =
            if (!anyStale) retained
            else if (idsSmall)
              retained.where(!$"doc_id".isin(idsProbe: _*))
            else retained.join(incomingIds, Seq("doc_id"), "left_anti")
          retainedMinusIncoming.unionByName(mappedP)
        }
        // The driver-resident spelling of level0Source, when the
        // probe's driver read succeeded: the SAME live rows of
        // `preBatch`, dirty parents only, minus the incoming docs,
        // plus the local map output — exactly `level0Source`'s rows.
        // (For a pure insert the minus-incoming filter is vacuous: no
        // stale rows means no live rows carry an incoming id.)
        val level0Local: Option[Seq[(String, Int, R)]] =
          liveParentRows.map { live =>
            val idsSet = idsProbe.toSet
            val dp = dirtyParents.toSet
            (live.iterator
              .filter(r => dp(r._2) && !idsSet(r._3))
              .map(r => (r._1, r._2, r._5)) ++
              localMapped.get.iterator.map { case (id, key, r) =>
                (key, Executer.parentOf(id, config.fanIn), r)
              }).toVector
          }
        // Join the append before leaving the tiny-shuffle scope even
        // when the tree rewrite throws: its plan must not outlive
        // the restored session conf or race a later batch's swap.
        try rereducePruned(pairs, level0Source,
          clustered = tinyBatch, level0Local = level0Local)
        finally appendJoin()
        jobs += 1
        stats(if (anyStale) "incremental-pruned" else "append",
          pairs.size, dirtyParents.size)
      } else distributedWidth(idsSmall) {
        // Large dirty set: distributed path (joins against the WAL).
        writeDirtyLog(dirtyDF); jobs += 1
        val dirty = readDirtyLog().select("reduce_key", "parent").distinct()
        // Merge-on-read invalidation, then the append, and let
        // rereduce read the post-update view through readMapResults
        // (new files + new tombstones, via the pending generation).
        tombstone()
        modelAddFiles(appendMap())
        if (localMapped.isEmpty) jobs += 1
        // One collect (≤ fanIn values) shared with rereduce — the
        // stats figure must not pay a second identical Spark job.
        val dirtyParents = dirty.select("parent").distinct()
          .as[Int].collect().sorted; jobs += 1
        rereduce(dirty, Some(dirtyParents)); jobs += 2
        stats("incremental-distributed", -1, dirtyParents.length)
      }
      clearDirtyLog()
    }
    // Shuffle-width policy lives inside maintain(): the pairs probe
    // and the small-pairs branch run at tiny-shuffle settings
    // (1 partition for tiny batches, a fixed narrow width for larger
    // batches whose dirty pair set still collapsed); the distributed
    // branch keeps the session's AQE planning on WIDE stores and
    // narrows on small-shaped ones (see distributedWidth).
    // Only a distributed batch persisted its map output; a local
    // batch's `mappedP` may never have been built.
    try maintain() finally if (localMapped.isEmpty) mappedP.unpersist()
    // Bound the merge-on-read overhead: past `tombstoneLimit` live
    // tombstones, fold them into the data files now (amortized — the
    // fold is itself O(tombstoned partitions), and resets the clock).
    if (tombstoneEstimate() > config.tombstoneLimit) foldTombstonesLocked()
  }

  /** Delta spelling of the two-level re-reduce, for tasks declaring the
    * abelian-group structure ([[MapReduceTask.deltaReducible]]): merge
    * `reduce(negate(oldRows) ++ newRows)` into the stored partials and
    * finals instead of recomputing each touched group from all its
    * surviving level-0 rows. Inputs are O(batch); state reads are the
    * touched partials/finals only. Rows that reach the group identity
    * ([[MapReduceTask.isZero]]) are dropped at both levels — matching
    * the recompute semantics where an empty group disappears.
    *
    * Key membership is pruned with driver `isin` predicates when the
    * dirty pairs fit the driver (`driverPairs`), else with semi/anti
    * joins against the delta itself. Untouched keys inside a dirty
    * parent pass through `reduce` as singletons, which re-reducibility
    * guarantees is the identity — so no exact pair-level anti-join is
    * ever needed. Both levels land in the same single staged tree write
    * as the recompute paths. */
  private def rereduceDelta(oldRows: DataFrame, newRows: DataFrame,
      driverPairs: Option[Seq[(String, Int)]]): Unit = {
    val t = task
    implicit val encIn: Encoder[(String, Int, R)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaInt, encR)
    implicit val encKV: Encoder[(String, R)] =
      Encoders.tuple(Encoders.STRING, encR)
    val negOld = oldRows.select($"reduce_key", $"parent", $"payload")
      .as[(String, Int, R)]
      .map { case (k, p, r) => (k, p, t.negate(r)) }
      .toDF("reduce_key", "parent", "payload")
    val delta0 = negOld.unionByName(
      newRows.select($"reduce_key", $"parent", $"payload"))
    // The per-(key, parent) delta — reused by the partials merge AND the
    // finals merge below, which land in ONE write job; persisted so the
    // two branches of that job's union share the shuffle. Inputs are
    // O(batch), so the clustered streaming spelling applies (same
    // shuffle the groupByKey would pay, minus the AppendColumns churn
    // and the object-hash sort fallback past 128 keys per partition —
    // a wide-fan-out batch like a shingle index's always exceeds it).
    val deltaPartials = reduceByKeyParentSmall(delta0)
      .select("parent", "reduce_key", "payload").persist()
    try {
      // Dirty partition sets: free from the driver pairs, else one
      // bounded collect (≤ fanIn × finalParts distinct combinations).
      val (dirtyParents, dirtyFparts) = driverPairs match {
        case Some(ps) =>
          (ps.map(_._2).distinct.sorted,
            ps.map(p => fpartOf(p._1)).distinct.sorted)
        case None =>
          val rows = deltaPartials.select($"parent",
            pmod(hash($"reduce_key"), lit(config.finalParts)) as "fpart")
            .distinct().collect()
          (rows.map(_.getInt(0)).distinct.sorted.toSeq,
            rows.map(_.getInt(1)).distinct.sorted.toSeq)
      }
      if (dirtyParents.isEmpty) return
      lazy val dirtyKeysDF = deltaPartials.select("reduce_key").distinct()
      val driverKeys = driverPairs.map(_.map(_._1).distinct)
      def matchKeys(df: DataFrame): DataFrame = driverKeys match {
        case Some(ks) => df.where($"reduce_key".isin(ks: _*))
        case None => df.join(dirtyKeysDF, Seq("reduce_key"), "left_semi")
      }
      def excludeKeys(df: DataFrame): DataFrame = driverKeys match {
        case Some(ks) => df.where(!$"reduce_key".isin(ks: _*))
        case None => df.join(dirtyKeysDF, Seq("reduce_key"), "left_anti")
      }

      val oldPartials = readPartials()
        .where($"parent".isin(dirtyParents.map(Integer.valueOf): _*))
      val mergedPartials = reduceByKeyParentSmall(
          matchKeys(oldPartials).unionByName(deltaPartials))
        .select($"reduce_key", $"parent", $"payload").as[(String, Int, R)]
        .filter(x => !t.isZero(x._3))
        .toDF("reduce_key", "parent", "payload")
        .select("parent", "reduce_key", "payload")
      val partialsOut = excludeKeys(oldPartials).unionByName(mergedPartials)

      val deltaByKey = reduceByKey(deltaPartials)
      val oldFinals = readFinals()
        .where($"fpart".isin(dirtyFparts.map(Integer.valueOf): _*))
      val mergedFinals = reduceByKey(
          matchKeys(oldFinals).select("reduce_key", "payload")
            .unionByName(deltaByKey.select("reduce_key", "payload")))
        .as[(String, R)]
        .filter(x => !t.isZero(x._2))
        .toDF("reduce_key", "payload")
        .withColumn("fpart", pmod(hash($"reduce_key"), lit(config.finalParts)))
        .select("fpart", "reduce_key", "payload")
      val finalsOut = excludeKeys(oldFinals).unionByName(mergedFinals)

      stageAndOverwriteTree(
        tagLevel1(partialsOut).unionByName(tagLevel2(finalsOut)),
        dirtyParents.map(p => s"level=1/part=$p") ++
          dirtyFparts.map(fp => s"level=2/part=$fp"),
        clustered = false)
    } finally deltaPartials.unpersist()
  }

  /** Driver-side group reduce: the task's reduce() over each group in
    * encounter order (callers put stored rows before delta rows — the
    * distributed union's order; within a group the engine's contract is
    * order-insensitive anyway, the distributed sorts only cluster by
    * key). Outputs are NOT assumed single (mirrors
    * reduceByKeyParentSmall, which emits all). */
  private def reduceGroupsLocal[K](rows: Iterator[(K, R)]): Vector[(K, R)] = {
    val t = task
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[K, scala.collection.mutable.ArrayBuffer[R]]
    rows.foreach { case (k, r) =>
      groups.getOrElseUpdate(
        k, scala.collection.mutable.ArrayBuffer.empty[R]) += r
    }
    groups.iterator.flatMap { case (k, rs) =>
      t.reduce(rs.iterator).map(r => (k, r)).toVector
    }.toVector
  }

  /** Driver-merge spelling of [[rereduceDelta]] for driver-local
    * batches: the batch's old and new map rows are already on the
    * driver (the pairs probe fetched the stale rows WITH payloads), the
    * touched partials/finals are ONE bounded driver-side read of the
    * dirty directories, the group merge is plain Scala over O(batch)
    * rows, and the tree write is driver-written parquet
    * ([[writeTreeDriver]]) — no Spark job at all, versus the
    * distributed spelling's 4 exchange stages whose fixed per-stage
    * scheduling cost dominates a small update (measured: each stage of
    * a tiny write job pays ~60–80ms regardless of data).
    *
    * Group semantics are IDENTICAL to [[rereduceDelta]]: the same
    * reduce/negate applications over the same row multisets — partials
    * merged per (key, parent) from stored-then-delta rows, finals per
    * key from stored-then-delta-by-key rows, identity results dropped
    * at both levels. Only intra-group input order can differ, which
    * the delta contract (abelian group; DeltaUpdateSpec,
    * ReReducibilityProps) makes immaterial.
    *
    * Two halves: this call runs the I/O-free gates and, if they pass,
    * starts the read on a pool thread so it overlaps the caller's
    * tombstone write and the append's driver prep. The returned thunk
    * joins the read and completes the merge, or reports false when the
    * read overflowed its cap or failed. None = a gate tripped, nothing
    * started. Either way no state is mutated and the caller's
    * distributed spelling runs unchanged. Every driver-side structure
    * is bounded: old rows and pairs by the probe's DriverDirtyLimit,
    * the read by [[DriverMergeMaxDirs]], [[DriverMergeMaxBytes]] and
    * its row caps. The read covers only the reduce tree, which this
    * batch mutates solely in the final staged write — so it cannot race
    * the concurrent map-space writes (tombstones, append). */
  private def startRereduceDeltaDriver(
      oldLocal: Array[(String, Int, R)],
      newLocal: Seq[(String, Int, R)],
      pairs: Seq[(String, Int)]): Option[() => Boolean] = {
    val t = task
    if (pairs.isEmpty) // nothing dirty — mirrors rereduceDelta's early out
      return Some(() => true)
    val dirtyParents = pairs.map(_._2).distinct.sorted
    val dirtyFparts = pairs.map(p => fpartOf(p._1)).distinct.sorted
    if (dirtyParents.size + dirtyFparts.size > DriverMergeMaxDirs) return None
    val treeFiles = liveTreeFiles(
      dirtyParents.map(p => s"level=1/part=$p") ++
        dirtyFparts.map(fp => s"level=2/part=$fp"))
    if (treeFiles.map(_._3).sum > DriverMergeMaxBytes) return None

    val dirtyKeys = pairs.map(_._1).distinct
    // One bounded driver-side read of the gate's own live file list
    // brings in the WHOLE dirty directories (both levels): the touched
    // rows feed the merge, and the untouched (retained) rows let the
    // tree rewrite skip re-scanning the directories it is about to
    // replace — the write becomes pure driver-resident data. Touched
    // rows keep their own 4×-pair cap (a wide-fan-out batch can touch
    // |dirty keys| × fanIn partials); the total is capped by
    // [[DriverMergeMaxRows]] on top of the byte gate above. Only a trip
    // past either cap falls back.
    val touchedCap = 4 * DriverDirtyLimit
    val allCap = math.max(touchedCap, DriverMergeMaxRows)
    val session = spark
    val touchedFut = java.util.concurrent.CompletableFuture.supplyAsync {
      () =>
        org.apache.spark.sql.SparkSession.setActiveSession(session)
        try readTreeFilesDriver(treeFiles, allCap)
        catch { case scala.util.control.NonFatal(_) => None }
    }
    Some(() => touchedFut.join().exists { fetched =>
      val dirtyKeySet = dirtyKeys.toSet
      val (touched, untouched) = fetched.partition(r => dirtyKeySet(r._1))
      touched.length <= touchedCap && {
        val delta0 =
          oldLocal.iterator.map { case (k, p, r) => ((k, p), t.negate(r)) } ++
            newLocal.iterator.map { case (k, p, r) => ((k, p), r) }
        val deltaPartials = reduceGroupsLocal(delta0)
        val oldPartialsT = touched.iterator.filter(_._3 == 1)
          .map { case (k, r, _, p) => ((k, p), r) }
        val mergedPartials =
          reduceGroupsLocal(oldPartialsT ++ deltaPartials.iterator)
            .filter { case (_, r) => !t.isZero(r) }
        val deltaByKey = reduceGroupsLocal(
          deltaPartials.iterator.map { case ((k, _), r) => (k, r) })
        val oldFinalsT = touched.iterator.filter(_._3 == 2)
          .map { case (k, r, _, _) => (k, r) }
        val mergedFinals =
          reduceGroupsLocal(oldFinalsT ++ deltaByKey.iterator)
            .filter { case (_, r) => !t.isZero(r) }
        writeTreeDriver(dirtyParents, dirtyFparts,
          mergedPartials, mergedFinals, untouched)
        true
      }
    })
  }

  /** Shared tail of the driver-merge paths: rewrite the dirty tree
    * directories entirely from driver-resident rows — the retained
    * (untouched-key) rows arrived in the same bounded fetch as the
    * touched state, so the rewrite re-scans nothing. Driver-written
    * parquet files go straight into the staging layout and are swapped
    * in by the same publication machinery as a job write — ZERO Spark
    * jobs. */
  private def writeTreeDriver(
      dirtyParents: Seq[Int], dirtyFparts: Seq[Int],
      localPartials: Seq[((String, Int), R)],
      localFinals: Seq[(String, R)],
      untouched: Iterable[(String, R, Int, Int)]): Unit = {
    val localRows: Seq[(String, R, Int, Int)] =
      localPartials.map { case ((k, p), r) => (k, r, 1, p) } ++
        localFinals.map { case (k, r) => (k, r, 2, fpartOf(k)) }
    replaceDirs("reduce_tree",
      dirtyParents.map(p => s"level=1/part=$p") ++
        dirtyFparts.map(fp => s"level=2/part=$fp"),
      stageTreeDriverFiles(untouched ++ localRows))
  }

  /** Driver spelling of [[rereducePruned]]: the dirty keys' post-update
    * level-0 rows (in the dirty parents) and their level-1 partials (in
    * the OTHER parents) land in one bounded tagged-union collect, both
    * reduce levels run as plain Scala group-reduces, and the dirty
    * directories are rewritten by the shared job-free
    * [[writeTreeDriver]] — versus the distributed spelling's
    * multi-exchange write whose fixed per-stage cost dominates a small
    * update. Recompute semantics are identical: dirty (key, parent)
    * partials rebuilt from ALL their surviving level-0 rows (sibling
    * inclusion), dirty keys' finals rebuilt from other-parent partials
    * plus the new ones, a key with no surviving rows simply produces no
    * rows. Bounded everywhere (pair count by the caller's probe, the
    * collect by its cap, the rewrite by [[DriverMergeMaxDirs]]);
    * a trip returns false with no state mutated and the distributed
    * spelling runs unchanged. */
  private def rereducePrunedDriver(
      pairs: Seq[(String, Int)], level0Source: => DataFrame,
      level0Local: Option[Seq[(String, Int, R)]] = None): Boolean = {
    val dirtyParents = pairs.map(_._2).distinct.sorted
    val dirtyKeys = pairs.map(_._1).distinct.sorted
    val dirtyFparts = dirtyKeys.map(fpartOf).distinct.sorted
    if (dirtyParents.size + dirtyFparts.size > DriverMergeMaxDirs) return false
    if (dirtyTreeBytes(dirtyParents.map(p => s"level=1/part=$p") ++
        dirtyFparts.map(fp => s"level=2/part=$fp")) > DriverMergeMaxBytes)
      return false
    val cap = 4 * DriverDirtyLimit
    val allCap = math.max(cap, DriverMergeMaxRows)
    // Fully-driver spelling — ZERO jobs — when the caller handed the
    // level-0 rows in (the probe's driver read already fetched the
    // dirty parents' live pre-batch rows) and the tree side fits a
    // driver read: the recompute needs the dirty keys' level-1 partials
    // from EVERY parent (sibling inclusion spans parents the batch
    // never touched), so the read covers the whole level 1 plus the
    // dirty level-2 fparts, byte-gated by [[DriverTreeReadMaxBytes]].
    // Same srcs, same group-reduces, same single write as the collect
    // spelling below; any gate trip falls through to it.
    if (level0Local.isDefined) {
      val fpSet = dirtyFparts.toSet
      val treeFiles =
        liveTreeFilesWhere((l, p) => l == 1 || (l == 2 && fpSet(p)))
      if (treeFiles.iterator.map(_._3).sum <= DriverTreeReadMaxBytes) {
        readTreeFilesDriver(treeFiles, allCap) match {
          case Some(tree) =>
            val dirtyKeySet = dirtyKeys.toSet
            val dpSet = dirtyParents.toSet
            val src0 = level0Local.get.iterator
              .filter(r => dirtyKeySet(r._1)).toVector
            val src1 = tree.iterator.collect {
              case (k, r, 1, p) if dirtyKeySet(k) && !dpSet(p) => (k, r)
            }.toVector
            val untouched = tree.iterator.collect {
              case (k, r, 1, p) if !dirtyKeySet(k) && dpSet(p) => (k, r, 1, p)
              case (k, r, 2, p) if !dirtyKeySet(k) => (k, r, 2, p)
            }.toVector
            if (src0.size + src1.size <= cap &&
                src0.size + src1.size + untouched.size <= allCap) {
              val newPartials = reduceGroupsLocal(
                src0.iterator.map { case (k, p, r) => ((k, p), r) })
              val newFinals = reduceGroupsLocal(
                src1.iterator ++
                  newPartials.iterator.map { case ((k, _), r) => (k, r) })
              writeTreeDriver(dirtyParents, dirtyFparts, newPartials,
                newFinals, untouched)
              return true
            }
          case None => ()
        }
      }
    }
    val keyPred = $"reduce_key".isin(dirtyKeys: _*)
    implicit val encSrc: Encoder[(String, Int, R, Int)] = Encoders.tuple(
      Encoders.STRING, Encoders.scalaInt, encR, Encoders.scalaInt)
    // ONE bounded job: the dirty keys' level-0 rows in the dirty
    // parents (src 0), their level-1 partials from the NON-dirty
    // parents (src 1) — everything both reduce levels need — plus the
    // RETAINED rows of the directories about to be rewritten (src 2:
    // untouched-key partials of the dirty parents; src 3: untouched-key
    // finals of the dirty fparts), so the tree rewrite is pure
    // driver-resident data and re-scans nothing. The reduce inputs keep
    // their own 4×-pair cap; the total rides the byte gate above plus
    // [[DriverMergeMaxRows]].
    val inputs = level0Source.where(keyPred)
      .select($"reduce_key", $"parent", $"payload", lit(0) as "src")
      .unionByName(readPartials()
        .where(!$"parent".isin(dirtyParents.map(Integer.valueOf): _*))
        .where(keyPred)
        .select($"reduce_key", $"parent", $"payload", lit(1) as "src"))
      .unionByName(readPartials()
        .where($"parent".isin(dirtyParents.map(Integer.valueOf): _*))
        .where(!keyPred)
        .select($"reduce_key", $"parent", $"payload", lit(2) as "src"))
      .unionByName(readFinals()
        .where($"fpart".isin(dirtyFparts.map(Integer.valueOf): _*))
        .where(!keyPred)
        .select($"reduce_key", $"fpart" as "parent", $"payload",
          lit(3) as "src"))
      .as[(String, Int, R, Int)]
      .limit(allCap + 1).collect()
    if (inputs.length > allCap ||
        inputs.count(_._4 <= 1) > cap) return false
    val newPartials = reduceGroupsLocal(
      inputs.iterator.filter(_._4 == 0).map { case (k, p, r, _) => ((k, p), r) })
    // Finals inputs in the distributed union's order: other-parent
    // partials first, then the just-computed ones.
    val newFinals = reduceGroupsLocal(
      inputs.iterator.filter(_._4 == 1).map { case (k, _, r, _) => (k, r) } ++
        newPartials.iterator.map { case ((k, _), r) => (k, r) })
    val untouched = inputs.iterator.collect {
      case (k, p, r, 2) => (k, r, 1, p)
      case (k, p, r, 3) => (k, r, 2, p)
    }.toVector
    writeTreeDriver(dirtyParents, dirtyFparts, newPartials, newFinals,
      untouched)
    true
  }

  /** Driver-pruned incremental re-reduce for small dirty sets: the exact
    * (key, parent) pairs are known on the driver, so scans filter with
    * pushed-down predicates instead of joins. Semantics identical to
    * [[rereduce]] (sibling inclusion per parent, empty groups disappear,
    * finals rebuilt per dirty key).
    *
    * @param level0Source the post-update map rows of the dirty parents
    *   (either a plan over a pre-batch file snapshot + the new map
    *   output, or a pruned re-read of the table), built at most once and
    *   only if a Spark spelling runs: a batch served by
    *   `level0Local` never analyzes it. */
  private def rereducePruned(
      pairs: Seq[(String, Int)], level0Source: => DataFrame,
      clustered: Boolean = true,
      level0Local: Option[Seq[(String, Int, R)]] = None): Unit = {
    if (pairs.isEmpty) return
    lazy val source = level0Source
    if (rereducePrunedDriver(pairs, source, level0Local)) return
    val dirtyParents = pairs.map(_._2).distinct.sorted
    val dirtyKeys = pairs.map(_._1).distinct.sorted
    // Superset pruning: rebuild (key ∈ dirtyKeys) × (parent ∈
    // dirtyParents) ⊇ the exact dirty pairs. Rebuilding a clean group is
    // idempotent (level-1 partials are always rebuilt from scratch from
    // all their children), and two isin filters push down to parquet
    // row-group stats — where the exact pair set would need a deep
    // Or-tree that neither pushes down nor survives Catalyst's analyzer
    // recursion (observed StackOverflowError at ~600 pairs).
    val keyPred = $"reduce_key".isin(dirtyKeys: _*)

    val level0 = source.where(keyPred)
    val newPartials = reduceByKeyParentSmall(level0)
      .select("parent", "reduce_key", "payload")
    val partialsOut = readPartials()
      .where($"parent".isin(dirtyParents.map(Integer.valueOf): _*))
      .where(!keyPred)
      .unionByName(newPartials)
    // Finals for the dirty keys take their level-1 inputs from the
    // non-dirty parents ON DISK plus the just-computed in-memory
    // partials (no write/read-back barrier between the two reduce
    // levels): both levels land in ONE staged write below.
    val level1ForKeys = readPartials()
      .where(!$"parent".isin(dirtyParents.map(Integer.valueOf): _*))
      .where(keyPred)
      .unionByName(newPartials)
    val newFinals = reduceByKey(level1ForKeys)
      .withColumn("fpart", pmod(hash($"reduce_key"), lit(config.finalParts)))
      .select("fpart", "reduce_key", "payload")
    val dirtyFparts = dirtyKeys.map(fpartOf).distinct.sorted
    val finalsOut = readFinals()
      .where($"fpart".isin(dirtyFparts.map(Integer.valueOf): _*))
      .where(!keyPred)
      .unionByName(newFinals)
    stageAndOverwriteTree(
      tagLevel1(partialsOut).unionByName(tagLevel2(finalsOut)),
      dirtyParents.map(p => s"level=1/part=$p") ++
        dirtyFparts.map(fp => s"level=2/part=$fp"),
      clustered)
  }

  /** Full (re)build of both reduce levels from the whole map_results
    * table — the initial-build path, and crash recovery for it. Both
    * levels land in ONE overwrite job (same shape as the incremental
    * path's single staged write): partials are persisted in memory —
    * they are the already-reduced data, ≤ keys × fanIn rows — so the
    * level-2 branch of the union reuses them instead of a write +
    * read-back barrier, and the tree is never visible with only one
    * level present. */
  private def rereduceAll(clusteredMapOut: Option[DataFrame] = None): Unit = {
    val newPartials = (clusteredMapOut match {
      case Some(arranged) => partialsFromClustered(arranged)
      case None => reduceByKeyParent(readMapResults())
    }).select("parent", "reduce_key", "payload").persist()
    try {
      clusteredMapOut match {
        case Some(_) =>
          // The partials inherit the map pass's parent clustering, so
          // the level-1 leg of the tree write needs no shuffle; the
          // finals' one shuffle is keyed by `fpart` — the exact layout
          // the write wants — so the union lands with clustered=true:
          // the whole tree write shares the finals' single exchange
          // instead of re-shuffling both levels by (level, part).
          val newFinals = finalsFromFpartClustered(newPartials)
          writePartitioned(
            tagLevel1(newPartials).unionByName(tagLevel2(newFinals)),
            treePath, Seq("level", "part"), clustered = true)
        case None =>
          val newFinals = reduceByKey(newPartials)
            .withColumn("fpart", pmod(hash($"reduce_key"), lit(config.finalParts)))
            .select("fpart", "reduce_key", "payload")
          writePartitioned(
            tagLevel1(newPartials).unionByName(tagLevel2(newFinals)),
            treePath, Seq("level", "part"))
      }
    } finally newPartials.unpersist()
  }

  /** Finals from level-1 partials via ONE shuffle keyed by `fpart` (the
    * final table's own partition column), sorted by (fpart, reduce_key)
    * so each key's partials form a contiguous run — reduced by the same
    * streaming pass as [[partialsFromClustered]], and already laid out
    * for the tree write. A key never spans fparts (fpart is a function
    * of the key), so runs are exact groups. */
  private def finalsFromFpartClustered(partials: DataFrame): DataFrame = {
    val t = task // local val: the closure must not capture `this`
    implicit val encIn: Encoder[(Int, String, R)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.STRING, encR)
    partials
      .withColumn("fpart", pmod(hash($"reduce_key"), lit(config.finalParts)))
      .repartition($"fpart")
      .sortWithinPartitions($"fpart", $"reduce_key")
      .select($"fpart", $"reduce_key", $"payload")
      .as[(Int, String, R)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Int, String, R)] {
          private var outs: Iterator[R] = Iterator.empty
          private var curF: Int = _
          private var curKey: String = _
          private def advance(): Unit =
            while (!outs.hasNext && buf.hasNext) {
              val f = buf.head._1
              val key = buf.head._2
              val run = new Iterator[R] {
                def hasNext: Boolean = buf.hasNext && buf.head._2 == key
                def next(): R = buf.next()._3
              }
              val reduced = t.reduce(run).toVector
              while (run.hasNext) run.next()
              curF = f; curKey = key
              outs = reduced.iterator
            }
          def hasNext: Boolean = { advance(); outs.hasNext }
          def next(): (Int, String, R) = {
            advance(); val r = outs.next(); (curF, curKey, r)
          }
        }
      }
      .toDF("fpart", "reduce_key", "payload")
  }

  /** Whole-table map write + whole-tree re-reduce from ONE clustered,
    * cached pass over the batch's map output (initial builds and the
    * rebuild fallback). An earlier spelling wrote `map_results`, then
    * re-read and re-listed the just-written table to build the tree — a
    * full extra scan plus a fresh file index — and ran the two table
    * writes sequentially. Here one shuffle clusters the map output by
    * `parent` (sorted by reduce_key inside each parent, the layout both
    * consumers need), the pass is cached, and the map-results write —
    * needing no further shuffle — runs CONCURRENTLY with the tree
    * computation, so the build's wall clock pays max(map write, tree)
    * instead of write + re-read + tree. Crash contract unchanged: the
    * caller's FullRebuild WAL sentinel precedes both writes, each write
    * commits atomically on its own, and recovery replays rereduceAll
    * over whatever map state committed. Model mutations stay on the
    * calling (writer) thread — the async thread only runs the staged
    * parquet job, exactly like the update path's startAppend. */
  private def buildFromMapOutput(mapOut: DataFrame): Unit = {
    val arranged = mapOut
      .repartition($"parent")
      .sortWithinPartitions($"parent", $"reduce_key")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val session = spark
      val fut = java.util.concurrent.CompletableFuture.supplyAsync { () =>
        // SQLConf.get in the job thread resolves via the active-session
        // thread-local; a fresh pool thread has none.
        org.apache.spark.sql.SparkSession.setActiveSession(session)
        arranged.write.partitionBy("parent").mode("overwrite")
          .parquet(s"$mapResultsPath.staging")
        // The rename fan-out is pure filesystem work (no model
        // mutation) and merged files stay invisible until the model
        // names them at publish — run it here so it overlaps the tree
        // write instead of serializing after it. A crash between the
        // renames and the publish leaves orphans compact() sweeps,
        // the same contract as a crash before the renames.
        mergeStagedDir(mapResultsPath)
      }
      try rereduceAll(Some(arranged))
      finally replaceTable("map_results", fut.join())
    } finally arranged.unpersist(false)
  }

  /** Whole-table replacement in the pending generation: retire every
    * previously-live file of `table`, then name the new files. */
  private def replaceTable(table: String, rels: Vector[String]): Unit = {
    modelRetireTable(table)
    modelAddFiles(rels)
  }

  /** Driver spelling of [[buildFromMapOutput]] for driver-local batches:
    * the map rows are already on the driver, so both reduce levels are
    * computed as plain Scala group-reduces (the same contiguous runs the
    * clustered streaming pass would form) and both tables land as
    * driver-written parquet files — a small first build runs with ZERO
    * Spark jobs. The map write still overlaps the tree write through
    * the same async pattern, and the crash contract is identical: the
    * caller's FullRebuild WAL sentinel precedes both writes, each
    * commits atomically, recovery replays rereduceAll over whatever map
    * state committed. */
  private def buildFromLocalMap(
      rows: Seq[(String, String, R)], batchSeq: Int): Unit = {
    val session = spark
    val fut = java.util.concurrent.CompletableFuture.supplyAsync { () =>
      org.apache.spark.sql.SparkSession.setActiveSession(session)
      appendMapDriverFiles(rows, batchSeq)
    }
    try {
      val partials = reduceGroupsLocal(rows.iterator.map { case (id, key, r) =>
        ((key, Executer.parentOf(id, config.fanIn)), r)
      })
      val finals = reduceGroupsLocal(
        partials.iterator.map { case ((k, _), r) => (k, r) })
      replaceTable("reduce_tree", stageTreeDriverFiles(
        partials.map { case ((k, p), r) => (k, r, 1, p) } ++
          finals.map { case (k, r) => (k, r, 2, fpartOf(k)) }))
    } finally replaceTable("map_results", fut.join())
  }

  /** The driver-small update paths' (key, parent) reduce: cluster by
    * parent, sort, and reduce the contiguous runs via
    * [[partialsFromClustered]]. Same single narrow shuffle the
    * groupByKey spelling pays, without the AppendColumns key
    * serialization or the object-hash sort fallback. The DISTRIBUTED
    * large-batch path ([[rereduce]]) deliberately keeps the Aggregator
    * spelling: its map-side combine shrinks what a corpus-sized level-0
    * slice ships across the exchange, which matters there and not in
    * the O(batch)/O(dirty) inputs this serves. */
  private def reduceByKeyParentSmall(df: DataFrame): DataFrame =
    partialsFromClustered(
      df.select($"reduce_key", $"parent", $"payload")
        .repartition($"parent")
        .sortWithinPartitions($"parent", $"reduce_key"))

  /** Level-1 partials from map output already clustered by `parent` and
    * sorted by (parent, reduce_key) within partitions: every (key,
    * parent) group is a contiguous run, so one streaming pass reduces
    * each group in place — no shuffle, no hash map, no sort (the
    * groupByKey spelling re-shuffles rows the build just clustered, and
    * its object-hash aggregation falls back to a full sort past 128
    * distinct keys per partition). Serves single- and multi-output
    * reduces alike; groups stream through the user's reduce as lazy
    * iterators, same as the flatMapGroups path. */
  private def partialsFromClustered(arranged: DataFrame): DataFrame = {
    val t = task // local val: the closure must not capture `this`
    implicit val encIn: Encoder[(String, Int, R)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaInt, encR)
    arranged.select($"reduce_key", $"parent", $"payload")
      .as[(String, Int, R)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(String, Int, R)] {
          private var outs: Iterator[R] = Iterator.empty
          private var curKey: String = _
          private var curParent: Int = _
          private def advance(): Unit =
            while (!outs.hasNext && buf.hasNext) {
              val key = buf.head._1
              val par = buf.head._2
              val run = new Iterator[R] {
                def hasNext: Boolean = buf.hasNext &&
                  buf.head._2 == par && buf.head._1 == key
                def next(): R = buf.next()._3
              }
              // Force the user's (possibly lazy) outputs while the run
              // iterator is still valid, then drain any unconsumed
              // remainder of the run. Outputs per group are small by the
              // reduce contract; the inputs stream.
              val reduced = t.reduce(run).toVector
              while (run.hasNext) run.next()
              curKey = key; curParent = par
              outs = reduced.iterator
            }
          def hasNext: Boolean = { advance(); outs.hasNext }
          def next(): (String, Int, R) = {
            advance(); val r = outs.next(); (curKey, curParent, r)
          }
        }
      }
      .toDF("reduce_key", "parent", "payload")
  }

  /** Incrementally rebuild level-1 partials for the dirty (key, parent)
    * pairs, then finals for the dirty keys — the reference's two-pass
    * reduce driver (`Executer.cs:37-43,47-85`) as two partition-pruned
    * groupBy passes. Dirty level-1 parents are rebuilt from scratch from
    * all their children (sibling inclusion, `Executer.cs:323-333`), never
    * diffed. */
  private def rereduce(dirty: DataFrame,
      collectedParents: Option[Array[Int]] = None): Unit = {
    val dirtyParents = collectedParents.getOrElse(
      dirty.select("parent").distinct().as[Int].collect().sorted)
    if (dirtyParents.isEmpty) return

    // ---- level 0 → level 1: rebuild dirty (key, parent) partials -------
    val level0 = readMapResults()
      .where($"parent".isin(dirtyParents.map(Integer.valueOf): _*))
      .join(dirty, Seq("reduce_key", "parent"), "left_semi")
    val newPartials = reduceByKeyParent(level0)
      .select("parent", "reduce_key", "payload")

    val retainedPartials = readPartials()
      .where($"parent".isin(dirtyParents.map(Integer.valueOf): _*))
      .join(dirty, Seq("reduce_key", "parent"), "left_anti")
    // Retained = partials in the dirty parent partitions whose (key,
    // parent) pair is NOT being rebuilt; dirty pairs that produced no
    // output simply disappear (doc remapped away, empty group).
    val partialsOut = retainedPartials.unionByName(newPartials)

    // ---- level 1 -> final: rebuild finals for dirty keys, reading
    // level-1 inputs from non-dirty parents on disk plus the in-memory
    // post-update partials of the dirty parents ------------------------
    val dirtyKeys = dirty.select("reduce_key").distinct()
    val level1ForKeys = readPartials()
      .where(!$"parent".isin(dirtyParents.map(Integer.valueOf): _*))
      .join(dirtyKeys, Seq("reduce_key"), "left_semi")
      .unionByName(partialsOut.join(dirtyKeys, Seq("reduce_key"), "left_semi"))
    val newFinals = reduceByKey(level1ForKeys)
      .withColumn("fpart", pmod(hash($"reduce_key"), lit(config.finalParts)))
      .select("fpart", "reduce_key", "payload")

    val dirtyFparts = dirtyKeys
      .select(pmod(hash($"reduce_key"), lit(config.finalParts)) as "fpart")
      .distinct().as[Int].collect().sorted // bounded by finalParts
    val finalsOut = readFinals()
      .where($"fpart".isin(dirtyFparts.map(Integer.valueOf): _*))
      .join(dirtyKeys, Seq("reduce_key"), "left_anti")
      .unionByName(newFinals)
    stageAndOverwriteTree(
      tagLevel1(partialsOut).unionByName(tagLevel2(finalsOut)),
      dirtyParents.toSeq.map(p => s"level=1/part=$p") ++
        dirtyFparts.toSeq.map(fp => s"level=2/part=$fp"),
      clustered = false)
  }

  /** Run the user's re-reducible `reduce` over each (key, parent) group.
    * Two strategies:
    *   - `singleOutput` tasks (SURVEY §7.2.5): a native [[ReduceAggregator]]
    *     typed aggregation — Spark plans it partial+final, so each map-side
    *     task pre-combines its rows and only per-group partials cross the
    *     shuffle (valid exactly because reduce is re-reducible).
    *   - general path: `flatMapGroups`, because the full contract is
    *     `R* => R*` (multi-output), which `Aggregator` cannot express
    *     (`MapReduceTask.cs:10`). */
  private def reduceByKeyParent(df: DataFrame): DataFrame = {
    val t = task
    implicit val encIn: Encoder[(String, Int, R)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaInt, encR)
    val grouped = df.select($"reduce_key", $"parent", $"payload")
      .as[(String, Int, R)]
      .groupByKey(x => (x._1, x._2))
    if (t.singleOutput) {
      implicit val encKP: Encoder[(String, Int)] =
        Encoders.tuple(Encoders.STRING, Encoders.scalaInt)
      implicit val encOut: Encoder[((String, Int), R)] =
        Encoders.tuple(encKP, encR)
      grouped.mapValues(_._3)
        .agg(new ReduceAggregator[R](t.reduce(_)).toColumn)
        .map { case ((k, p), r) => (k, p, r) }
        .toDF("reduce_key", "parent", "payload")
    } else {
      grouped.flatMapGroups {
        (kp: (String, Int), rows: Iterator[(String, Int, R)]) =>
          t.reduce(rows.map(_._3)).map(r => (kp._1, kp._2, r))
      }.toDF("reduce_key", "parent", "payload")
    }
  }

  private def reduceByKey(df: DataFrame): DataFrame = {
    val t = task
    implicit val encIn: Encoder[(String, R)] =
      Encoders.tuple(Encoders.STRING, encR)
    val grouped = df.select($"reduce_key", $"payload").as[(String, R)]
      .groupByKey(_._1)
    if (t.singleOutput) {
      implicit val encOut: Encoder[(String, R)] = encIn
      grouped.mapValues(_._2)
        .agg(new ReduceAggregator[R](t.reduce(_)).toColumn)
        .toDF("reduce_key", "payload")
    } else {
      grouped.flatMapGroups { (k, rows) =>
        t.reduce(rows.map(_._2)).map(r => (k, r))
      }.toDF("reduce_key", "payload")
    }
  }

  // ---------------------------------------------------------------------
  // Reads — mirror `Executer.Query` (`Executer.cs:370-377`)
  // ---------------------------------------------------------------------

  /** Final reduced values for one key; empty if absent
    * (`Executer.cs:373-375`). Reads only the key's `fpart` partition of
    * the generation published at call time, and reads it at call time:
    * the rows are fetched on the driver into a local result whose
    * `collect` runs no Spark job ([[StoreSnapshot.keysRead]]). A
    * partition past the driver-read gate is served by the pruned Spark
    * plan over that same generation instead. */
  def query(key: String): Dataset[R] = {
    configChecked
    snapshotAt(-1L).keysRead(Seq(key)).df.select("payload.*").as[R]
  }

  /** Final reduced values for SEVERAL keys (the multi-key
    * generalization of [[query]]): reads at most |distinct fparts of
    * keys| ≤ |keys| of the `finalParts` partitions, where a [[queryAll]]
    * fallback would scan them all — read at call time from the
    * generation published then, exactly like [[query]] (driver read,
    * or the pruned Spark plan past the gate). Returned as (reduce_key,
    * payload fields) rows — several keys' values interleave, so the key
    * column disambiguates; absent keys simply contribute no rows. */
  def queryKeys(keys: Seq[String]): DataFrame = {
    configChecked
    snapshotAt(-1L).keysRead(keys).df.select($"reduce_key" +:
      encR.schema.fieldNames.toSeq.map(f => col(s"payload.$f")): _*)
  }

  /** Generation `snap` through the shared read layer, with what the
    * engine knows: its `finalParts`, its task's data schema, and its
    * manifest cache for other generations — no `_config` or footer
    * read. */
  private def readAt(snap: Snapshot): StoreSnapshot =
    new StoreSnapshot(spark, stateFs, storeRoot, snap, Some(config.finalParts),
      Some(treeDataSchema), manifestAt)

  /** The generation a read at `version` resolves: the caller's view
    * ([[snapshotNow]]) for −1, else that published generation. */
  private[graft] def snapshotAt(version: Long): StoreSnapshot =
    readAt(if (version < 0) snapshotNow() else manifestAt(version))

  /** The published generation, for the CDC reads that need one. */
  private def publishedRead(what: String): StoreSnapshot =
    readAt(publishedSnapshot().getOrElse(throw new UnsupportedOperationException(
      s"$what: the store has no published generation yet")))

  /** The currently-published snapshot generation, or −1 while nothing
    * is published. Pair with [[queryAllAt]] for stable time-travel
    * reads: capture the version before a mutation, read that exact
    * generation after it. */
  def snapshotVersion(): Long = readCurrentVersion()

  /** The CDC invalidation surface: DISTINCT reduce keys touched by any
    * mutation published in generations `(sinceVersion, current]` — the
    * set a downstream consumer holding results as of `sinceVersion`
    * must refetch (and only that set). "Touched" means a document
    * contributed to the key before or after the mutation — the same
    * dirty set the engine's own incremental maintenance re-reduces, so
    * the record costs one local write (driver-known batches) or one
    * keys-only parquet write (distributed ones) per published
    * generation, never a state diff. A key that VANISHED is in the set
    * (its deletion must invalidate); a rebuilt store records old ∪ new
    * final keys. `compact()` prunes records older than
    * `manifestRetention` generations — asking past the pruning horizon
    * fails loudly, never silently under-reports, also when the pruning
    * races the poll; so does a store with no published generation yet.
    * The records are read at call time by the shared read layer
    * ([[StoreSnapshot.changedKeys]]); a window whose every generation
    * has only a local record is a local result whose `collect` runs no
    * Spark job, and any distributed record in the window is scanned by
    * a distinct job. */
  def changedKeysSince(sinceVersion: Long): DataFrame = {
    configChecked
    publishedRead("changedKeysSince").changedKeys(sinceVersion)
  }

  /** The oldest base generation [[changedKeysSince]]/[[diffSince]] can
    * still answer from: records for generations BELOW this have been
    * pruned by `compact()` (asking throws, by contract). −1 on a
    * never-compacted store. A CDC consumer whose cursor fell below this
    * must full-resync ([[graft.streaming.CdcConsumer]]'s documented
    * fallback) — this accessor is what lets it decide BEFORE the loud
    * failure. */
  def changedHorizonVersion(): Long = {
    configChecked
    StoreSnapshot.horizon(stateFs, storeRoot)
  }

  /** [[queryAll]] as of an earlier published generation — the manifest
    * layer's time-travel read (SURVEY §14): a generation's file list is
    * immutable, and its replaced files survive on disk for
    * `manifestRetention` generations AND `manifestGraceMs` after
    * retirement (longer if no further mutations land; `compact()`
    * reclaims immediately). Reading a generation whose manifest or data
    * files have been GC'd fails with a file-not-found error — never a
    * silently wrong answer. */
  def queryAllAt(version: Long): DataFrame = {
    configChecked
    require(version >= 0, s"snapshot generations are >= 0, got $version")
    relFor(treePath, treeReadSchema, manifestAt(version))
      .where($"level" === 2)
      .select($"reduce_key" +: encR.schema.fieldNames.toSeq
        .map(f => col(s"payload.$f")): _*)
  }

  /** The CDC surface with BEFORE/AFTER IMAGES — [[changedKeysSince]]
    * upgraded from an invalidation set to a Debezium-style change feed:
    * one row per touched key with `change_type` ('insert' | 'update' |
    * 'delete'), the key's payload as of generation `sinceVersion`
    * (`old_*` columns, NULL on insert), and its current payload
    * (`new_*` columns, NULL on delete). Consumers that can apply
    * retractions directly (a downstream delta-reducible index, an
    * external OLAP sink) read this instead of refetching via
    * [[queryKeys]] — the before-image IS the retraction.
    *
    * Semantics follow the invalidation set exactly: "touched" means a
    * document contributed to the key before or after some mutation in
    * `(sinceVersion, current]` — so a key whose documents were
    * resubmitted with identical payloads still appears, as an 'update'
    * whose old and new images are equal (the consumer's idempotent
    * apply makes it a no-op). The current generation is pinned at
    * entry, and the feed is the shared read layer's
    * ([[StoreSnapshot.diffSince]], the same code as
    * [[graft.sources.StoreReader.diffSince]]): the window's keys, read
    * at both generations by key reads and paired by key on the driver.
    * The rows are read at call time into a local result, O(churn) of
    * them on the driver; a window of local records read on the driver
    * runs no Spark job. The old side time-travels to `sinceVersion`
    * within the same GC-retention contract as [[queryAllAt]]; a
    * reclaimed `sinceVersion` manifest is refused with an
    * IllegalStateException. Requires a `singleOutput` task: images are
    * paired by reduce_key. */
  def diffSince(sinceVersion: Long): DataFrame = {
    configChecked
    require(sinceVersion >= 0,
      s"diffSince needs a published base generation, got $sinceVersion")
    // A multi-output task (singleOutput=false is a legal shape) has no
    // by-key pairing of its images; fail loudly up front (ADVICE r10).
    require(task.singleOutput,
      "diffSince requires a singleOutput task: the before/after images " +
        "are keyed by reduce_key, which is only unambiguous when each " +
        "key has one output row — use changedKeysSince + queryKeys for " +
        "multi-output stores")
    val head = publishedRead("diffSince")
    head.diffSince(sinceVersion,
      head.changedKeys(sinceVersion).collect().map(_.getString(0)).toSeq)
  }

  /** [[query]] as of an earlier published generation — the point-read
    * sibling of [[queryAllAt]]: the same immutable-snapshot semantics,
    * pruned to the key's single final partition exactly like a live
    * point read, and read at call time like one (driver read, or the
    * pruned Spark plan past the gate). A generation whose manifest or
    * data files were reclaimed fails loudly here, at the call. */
  def queryAt(key: String, version: Long): Dataset[R] = {
    configChecked
    require(version >= 0, s"snapshot generations are >= 0, got $version")
    snapshotAt(version).keysRead(Seq(key)).df.select("payload.*").as[R]
  }

  /** Register generation `version` of this store as temp view `name` —
    * the SQL spelling of [[queryAllAt]]. Unlike [[registerStore]]'s
    * views this one is deliberately NOT refreshed after mutations: a
    * published generation is immutable, so the pinned plan IS the
    * correct semantics for as long as the generation stays within the
    * GC retention window. */
  def registerStoreAt(name: String, version: Long): Unit =
    queryAllAt(version).createOrReplaceTempView(name)

  /** Roll the store back to published generation `targetVersion` — the
    * manifest layer's time travel made WRITABLE. The restored state
    * lands as a NEW forward generation (never a history rewrite): a new
    * manifest is published whose live file list and tombstone pointer
    * are the target generation's, files the current generation added
    * are retired on the normal GC schedule, and files the target holds
    * live leave the retired list (they are referenced again). No data
    * file is copied, moved, or rewritten — the whole operation is one
    * changed-keys record plus one manifest write, O(manifest), at any
    * store size.
    *
    * Because generations only move FORWARD, every concurrent-read and
    * CDC contract survives unchanged: pinned [[queryAllAt]] reads of
    * intermediate generations stay valid until ordinary GC retention,
    * and a [[changedKeysSince]]/[[diffSince]] consumer at any cursor
    * converges through the rollback — the new generation's invalidation
    * record is exactly the keys touched in `(targetVersion, current]`,
    * a superset of the keys whose value changes back for every possible
    * cursor position (superset invalidation is always safe; equal
    * old/new images are the documented no-op 'update' shape).
    *
    * Fails loudly, mutating nothing, when the rollback cannot be
    * answered exactly: the target manifest or any of its data files
    * already GC'd (same retention contract as [[queryAllAt]]), the
    * changed-keys records for `(targetVersion, current]` pruned by
    * `compact()` (same horizon contract as [[changedKeysSince]]), an
    * unrecovered WAL from an interrupted batch (call [[recover]] first
    * — flipping the layout under a pending replay would apply the
    * replay to the wrong generation).
    *
    * Crash contract: the changed-keys record is written BEFORE the
    * manifest flip (the same order every mutation uses — the record
    * belongs to the generation the publish is about to land). A crash
    * between the two leaves an orphan record for a never-published
    * generation; the next successful mutation overwrites it, or — if it
    * records distributed while the orphan was local (or vice versa) —
    * the union is read, which can only over-invalidate, never miss.
    *
    * Returns the new current generation (`current + 1`); rolling back
    * to the current generation is a published no-op returning
    * `current`. */
  def rollbackTo(targetVersion: Long): Long = withLease {
    val cur = pending.version
    require(targetVersion >= 0 && targetVersion <= cur,
      s"rollbackTo: target must be a published generation in [0, $cur], " +
        s"got $targetVersion")
    if (targetVersion == cur) cur
    else {
      if (exists(dirtyLocalPath) || exists(dirtyPath))
        throw new IllegalStateException(
          "rollbackTo: an interrupted batch's WAL is pending — call " +
            "recover() first, then roll back")
      val target = manifestAt(targetVersion) // loud if the manifest was GC'd
      val targetRels =
        target.live.valuesIterator.flatten.toVector ++ target.tombLocal
      val missing = targetRels.filterNot(rel => exists(s"$storePath/$rel"))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"rollbackTo: generation $targetVersion is past GC retention — " +
          s"${missing.size} of its data files no longer exist " +
          s"(first: ${missing.head})")
      // The invalidation record: every key touched between the target
      // and now — computed BEFORE the flip, from the same records a CDC
      // consumer reads (throws past the compact() horizon).
      val changed = readAt(pending).changedKeys(targetVersion)
      val newV = cur + 1
      val keysProbe = changed.limit(DriverDirtyLimit + 1).collect()
        .map(_.getString(0))
      if (keysProbe.length <= DriverDirtyLimit)
        writeLocalAtomic(changedLocalPath(newV)) { out =>
          out.writeInt(keysProbe.length)
          keysProbe.foreach(writeStr(out, _))
        }
      else changed.write.mode("overwrite").parquet(changedDistPath(newV))
      // Flip the layout model; publishPending (withLease's epilogue)
      // lands m<newV> and the `_current` pointer atomically.
      val targetLiveSet = targetRels.toSet
      val nowMs = System.currentTimeMillis()
      val reRetired =
        (pending.live.valuesIterator.flatten.toVector ++ pending.tombLocal)
          .filterNot(targetLiveSet)
          .map(Retired(_, newV, nowMs))
      pending = pending.copy(
        live = target.live,
        tombLocal = target.tombLocal,
        retired = pending.retired.filterNot(r => targetLiveSet(r.path)) ++
          reRetired)
      pendingDirty = true
      newV
    }
  }

  /** Fork published generation `version` into a NEW independent store at
    * `newStorePath` — the branching half of writable time travel
    * ([[rollbackTo]] is the in-place half). The branch copies ONLY the
    * generation's live files (not the source's full history), publishes
    * them as its own generation 0 with a full-key-set invalidation
    * record (the same record an initial build writes, so CDC consumers
    * bootstrap off the branch exactly like off a fresh build), and
    * inherits the source's batch-sequence floor so tombstone seqs in the
    * copied map rows can never collide with the branch's future batches
    * (the [[reshapeTo]] discipline). Source and branch share NOTHING on
    * disk afterwards: either side's updates, GC, or compact() cannot
    * touch the other.
    *
    * Cost is O(live bytes of one generation) — a data copy, not a
    * recompute: the map pass never re-runs and the reduce tree is taken
    * as-is. Same loud-failure contract as [[rollbackTo]] for a target
    * past GC retention; the destination must not already hold a store.
    * The SOURCE is not locked and not mutated — a published generation
    * is immutable, so concurrent source writers are harmless (its files
    * survive at least `manifestRetention`/`manifestGraceMs` past
    * retirement; branch within that window, like any time-travel
    * read). */
  def branchAt(version: Long, newStorePath: String,
      dstLease: Option[LeaseProvider] = None): Executer[D, R] = {
    configChecked
    require(version >= 0, s"snapshot generations are >= 0, got $version")
    if (readCurrentVersion() < 0) throw new UnsupportedOperationException(
      "branchAt: the store has no published generation yet")
    val target = manifestAt(version) // loud if the manifest was GC'd
    val rels = target.live.valuesIterator.flatten.toVector ++ target.tombLocal
    val missing = rels.filterNot(rel => exists(s"$storePath/$rel"))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"branchAt: generation $version is past GC retention — " +
        s"${missing.size} of its data files no longer exist " +
        s"(first: ${missing.head})")
    val seqFloor = currentSeq
    val dst = new Executer[D, R](task, newStorePath, config, dstLease)
    dst.withLease {
      require(!dst.exists(dst.mapResultsPath) &&
        dst.readCurrentVersion() < 0,
        s"branchAt destination $newStorePath already holds a store")
      // The copy is a DISTRIBUTED job, not a driver loop: one task per
      // partition of the file list, each opening its filesystems from
      // the executor's own Hadoop config — at 100 TB the branch copy is
      // the operation's entire cost, and it parallelizes perfectly
      // (immutable source files, disjoint destinations). A single-file
      // store skips the job. Any task's failed copy fails the job and
      // the branch is stillborn (no manifest was published).
      val srcRoot = storePath; val dstRoot = newStorePath
      if (rels.size <= 1) {
        val conf = spark.sparkContext.hadoopConfiguration
        rels.foreach { rel =>
          val to = new Path(s"$dstRoot/$rel")
          dst.fs.mkdirs(to.getParent)
          if (!org.apache.hadoop.fs.FileUtil.copy(fs,
              new Path(s"$srcRoot/$rel"), dst.fs, to, false, conf))
            throw new java.io.IOException(s"branchAt: copy failed for $rel")
        }
      } else {
        val par = math.min(rels.size,
          math.max(2, spark.sparkContext.defaultParallelism))
        // Roots are qualified HERE, against the driver's filesystems, so
        // a scheme-less store path ("/data/store") reaches the tasks as
        // an absolute URI of the intended filesystem, and the session's
        // Hadoop config rides along broadcast (ADVICE r13).
        val qSrc = fs.makeQualified(new Path(srcRoot)).toString
        val qDst = dst.fs.makeQualified(new Path(dstRoot)).toString
        val bconf = spark.sparkContext.broadcast(
          Executer.confEntries(spark.sparkContext.hadoopConfiguration))
        try spark.sparkContext.parallelize(rels, par)
          .foreachPartition(Executer.copyBranchFiles(qSrc, qDst, bconf))
        finally bconf.destroy()
      }
      if (seqFloor >= 0)
        dst.writeLocalAtomic(dst.seqPath)(_.writeInt(seqFloor))
      // Adopt the copied layout as the branch's generation 0, then
      // derive its invalidation record from its OWN pending snapshot
      // (the writer thread resolves `pending`, so readFinals sees the
      // adopted files before the publish in withLease's epilogue).
      dst.pending = dst.pending.copy(
        live = target.live, tombLocal = target.tombLocal,
        retired = Vector.empty)
      dst.pendingDirty = true
      dst.readFinals().select("reduce_key").distinct()
        .write.mode("overwrite").parquet(dst.changedDistPath(0L))
    }
    dst
  }

  /** The whole index as a DataFrame — strictly more capable than the
    * reference's point read: range scans, joins, further aggregation.
    * A generation with no tree files (nothing built or published yet)
    * reads as the typed empty frame. */
  def queryAll(): DataFrame = {
    configChecked
    readFinals().select($"reduce_key" +: encR.schema.fieldNames.toSeq
      .map(f => col(s"payload.$f")): _*)
  }

  /** Provenance: which documents feed reduce key `key`, and through which
    * map bucket — the reference's by-key map-result enumeration
    * (`Executer.cs:305-334`, directory scan of `MapResults/<key>`) as a
    * reduce_key-filtered scan of `map_results`. Every data file is
    * written sorted by `reduce_key` within its partition, so parquet
    * row-group min/max stats skip the bulk of each file (same cost shape
    * as [[delete]], documented there). */
  def contributors(key: String): DataFrame = {
    configChecked
    readMapResults().where($"reduce_key" === key).select("doc_id", "bucket")
  }

  /** Reverse provenance: every (reduce key, bucket) a document feeds —
    * the engine-internal per-doc lookup of the reference
    * (`Executer.cs:245-250`) as a public surface. Unlike [[contributors]]
    * this prunes to ONE partition: a doc's parent is a pure function of
    * its id, so the scan reads 1/fanIn of the table regardless of size. */
  def contributionsOf(docId: String): DataFrame = {
    configChecked
    val id = Executer.normDocId(docId)
    readMapResults()
      .where($"parent" === Executer.parentOf(id, config.fanIn) &&
        $"doc_id" === id)
      .select("reduce_key", "bucket")
  }

  /** True while the store's current generation holds no live map data
    * (nothing ingested, or nothing published yet) — the cheap probe
    * consumers use to skip work that is provably empty. */
  def isEmptyStore: Boolean = {
    configChecked
    snapshotNow().live.getOrElse("map_results", Vector.empty).isEmpty
  }


  /** Every LIVE document id in the store (distinct, post-normalization,
    * tombstoned docs excluded) — the inventory a CDC consumer needs on a
    * re-bootstrap to find downstream documents the new snapshot no
    * longer covers ([[graft.streaming.CdcConsumer]]). One distinct over
    * `map_results`; the caller bounds any collect. */
  def documentIds(): DataFrame = {
    configChecked
    readMapResults().select("doc_id").distinct()
  }

  // ---------------------------------------------------------------------
  // SQL surface — maintained state as named views (VERDICT r5 #7)
  // ---------------------------------------------------------------------

  private val registeredViews =
    scala.collection.mutable.LinkedHashSet[String]()

  /** Expose this store's maintained state to SQL-only consumers as temp
    * views: `<name>` = the final results ([[queryAll]]'s shape),
    * `<name>_finals` = the same rows WITH the physical `fpart` partition
    * column — a SQL point query prunes partitions exactly like [[query]]
    * does, because Spark SQL's `hash()` is the same Murmur3/seed-42 the
    * writer buckets by: `WHERE fpart = pmod(hash(k), finalParts) AND
    * reduce_key = k` — and `<name>_provenance` = (reduce_key, doc_id,
    * bucket), the contributors table. The reference exposes state only
    * as `Query(key)` (`Executer.cs:370-377`); this widens the read
    * surface to any SQL client of the session. Views are re-registered
    * after every mutation THIS instance performs, so SQL reads through
    * them always resolve the current file layout (a temp view pins its
    * plan — and with it the parquet file listing — at registration). */
  def registerStore(name: String): Unit = {
    registeredViews += name
    refreshViews()
  }

  private def refreshViews(): Unit = registeredViews.foreach { n =>
    queryAll().createOrReplaceTempView(n)
    readFinals().select($"fpart" +: $"reduce_key" +:
        encR.schema.fieldNames.toSeq.map(f => col(s"payload.$f")): _*)
      .createOrReplaceTempView(s"${n}_finals")
    readMapResults().select("reduce_key", "doc_id", "bucket")
      .createOrReplaceTempView(s"${n}_provenance")
  }

  /** Drop all stored state for one reduce key — the reference's public
    * utility `Delete` (`Executer.cs:222-238`).
    *
    * Deliberate cost note: finding the key's map rows scans `map_results`
    * with only a `reduce_key` filter — there is no key→parents index.
    * Every data file is written sorted by `reduce_key` within its
    * partition, so parquet row-group min/max stats skip the bulk of each
    * file; what remains is one footer+stats pass over the table, which is
    * the right trade for an operation as rare as a whole-key purge (vs
    * maintaining another state table on every update). */
  def delete(key: String): Unit = withLease {
    recoverLocked()
    if (exists(mapResultsPath)) {
      val t = readMapResults()
      val parts = t.where($"reduce_key" === key)
        .select("parent").distinct().as[Int].collect()
      if (parts.nonEmpty) {
        // WAL before mutation: a crash between the map rewrite and the
        // tree rewrite would otherwise leave the key queryable from the
        // tree with its map rows gone, with nothing to repair it.
        // recover() replays the pruned re-reduce for these pairs, which
        // rebuilds the key from whatever map state committed — rows
        // still present (no-op) or already deleted (key disappears,
        // completing this delete). Both consistent.
        writeDirtyLogLocal(parts.map(p => (key, p)).toSeq)
        val kept = t.where($"parent".isin(parts.map(Integer.valueOf): _*))
          .where($"reduce_key" =!= key)
        stageAndOverwrite(kept, mapResultsPath, "parent", parts.toSeq,
          clustered = true)
      }
    }
    if (exists(treePath)) {
      val pparts = readPartials().where($"reduce_key" === key)
        .select("parent").distinct().as[Int].collect().sorted
      val fp = fpartOf(key)
      val keptPartials = readPartials()
        .where($"parent".isin(pparts.map(Integer.valueOf): _*))
        .where($"reduce_key" =!= key)
      val keptFinals = readFinals()
        .where($"fpart" === fp).where($"reduce_key" =!= key)
      stageAndOverwriteTree(
        tagLevel1(keptPartials).unionByName(tagLevel2(keptFinals)),
        pparts.toSeq.map(p => s"level=1/part=$p") :+ s"level=2/part=$fp",
        clustered = true)
    }
    clearDirtyLog()
  }

  /** Remove documents from the index entirely: an update with no
    * documents (the reference's `Execute` invalidates a document's prior
    * entries before mapping it, `Executer.cs:245-258`), run through
    * [[maintainBatch]] like [[execute]]'s batches. It costs O(changed
    * docs), never a table rewrite — the "purge these records" compliance
    * op. Ids are a driver-side Seq by contract (a purge list, not a
    * dataset), so the tombstones are always the local file. An empty
    * list, a store with no map rows or unknown ids publish nothing. */
  def deleteDocuments(docIds: Seq[String]): Unit = withLease {
    recoverLocked()
    val t0 = System.nanoTime()
    val ids = docIds.map(Executer.normDocId).distinct.toIndexedSeq
    if (ids.nonEmpty &&
        pending.live.getOrElse("map_results", Vector.empty).nonEmpty)
      maintainBatch(bumpSeq(), t0, Some(ids), ids.toDF("doc_id"), Some(Nil),
        noMapOutput, purge = true)
  }

  private def fpartOf(key: String): Int =
    Executer.fpartHash(key, config.finalParts)

  // ---------------------------------------------------------------------
  // Storage plumbing
  // ---------------------------------------------------------------------

  // Explicit schemas on every state read: schema inference would read a
  // parquet footer per table open (several opens per maintenance batch),
  // and the payload struct schema is statically known from the task's
  // result encoder anyway.
  import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType, StructField, StructType}

  private lazy val mapReadSchema = StructType(Seq(
    StructField("bucket", IntegerType), StructField("reduce_key", StringType),
    StructField("doc_id", StringType), StructField("seq", IntegerType),
    StructField("payload", encR.schema), StructField("parent", IntegerType)))
  private lazy val treeReadSchema = StructType(Seq(
    StructField("reduce_key", StringType), StructField("payload", encR.schema),
    StructField("level", IntegerType), StructField("part", IntegerType)))

  // ---- base-relation cache -------------------------------------------
  // Building a parquet relation analyzes its file list into a fresh file
  // index every call, and a 1-doc update issues several independent state
  // reads (map_results once, reduce_tree three times inside
  // rereducePruned, tombstones). Plans are cached by (table path, live
  // file list) — exactly what a relation is built from. Data files are
  // immutable and never change path, so a cached plan never goes stale,
  // and a snapshot captured BEFORE a mutation (e.g. `execute`'s pre-batch
  // snapshot, whose `existing` plan may be built only after the batch's
  // append) resolves its own file list whenever it is read. Pinned by
  // StaleListingSpec.
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Vector[String]), DataFrame]()

  /** The table relation under a resolved snapshot. Explicit file list +
    * basePath keeps partition-column derivation — and with it partition
    * pruning — identical to a directory read. */
  private def relFor(path: String, schema: StructType,
      snap: Snapshot): DataFrame = {
    val table = new Path(path).getName
    val files = snap.live.getOrElse(table, Vector.empty)
    val key = (path, files)
    val hit = relCache.get(key)
    if (hit != null) hit
    else {
      val df =
        if (files.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else spark.read.schema(schema).option("basePath", path)
          .parquet(files.map(f => s"$storePath/$f"): _*)
      if (relCache.size > 64) relCache.clear()
      relCache.put(key, df)
      df
    }
  }

  private def readMapResults(): DataFrame = readMapResultsAt(snapshotNow())

  /** The live map rows of one resolved snapshot. One snapshot for BOTH
    * the data files and the tombstone overlay: resolving them separately
    * could mix generations (old map files + newer tombstones ⇒ docs
    * transiently vanish). */
  private def readMapResultsAt(snap: Snapshot): DataFrame =
    applyTombstones(relFor(mapResultsPath, mapReadSchema, snap), snap)
      .select("parent", "bucket", "reduce_key", "doc_id", "seq", "payload")

  private def readTree(): DataFrame =
    relFor(treePath, treeReadSchema, snapshotNow())

  private def readPartials(): DataFrame =
    readTree().where($"level" === 1)
      .select($"part" as "parent", $"reduce_key", $"payload")

  private def readFinals(): DataFrame =
    readTree().where($"level" === 2)
      .select($"part" as "fpart", $"reduce_key", $"payload")

  private def tagLevel1(partials: DataFrame): DataFrame =
    partials.select($"reduce_key", $"payload",
      lit(1) as "level", $"parent".cast("int") as "part")

  private def tagLevel2(finals: DataFrame): DataFrame =
    finals.select($"reduce_key", $"payload",
      lit(2) as "level", $"fpart".cast("int") as "part")

  // ---------------------------------------------------------------------
  // Driver-direct parquet files (guide §5 — cut the per-update driver
  // floor). A driver-merged maintenance batch has every row it will
  // write already on the driver; pushing them through a Spark write job
  // pays job scheduling + FileFormatWriter prep + the commit protocol
  // (measured 340–730 ms for a 6-dir 64-row write) to produce files a
  // plain OutputWriter writes in ~25 ms. These helpers drive Spark's OWN
  // parquet OutputWriter on the driver thread: same ParquetWriteSupport,
  // same footer metadata (spark schema JSON), same codec and type
  // encodings as a write job's task — only the job around it is skipped.
  // Read-back equivalence is pinned by DriverWriteSpec and the
  // ProbeDriverWrite diagnostic.
  // ---------------------------------------------------------------------

  /** prepareWrite snapshots the session's parquet write options into a
    * job conf once per data schema; factory and conf are immutable
    * afterwards and safe to share across threads (each file gets its
    * own OutputWriter). */
  private val pqFactories = new java.util.concurrent.ConcurrentHashMap[
    StructType,
    (org.apache.spark.sql.execution.datasources.OutputWriterFactory,
      org.apache.hadoop.conf.Configuration)]()

  private val pqFileSeq = new java.util.concurrent.atomic.AtomicInteger

  private def pqFactory(schema: StructType) =
    pqFactories.computeIfAbsent(schema, s => {
      val job = org.apache.hadoop.mapreduce.Job.getInstance(
        spark.sessionState.newHadoopConf())
      (new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat().prepareWrite(spark, job, Map.empty, s),
        job.getConfiguration)
    })

  /** Write one parquet data file under `dir` (driver thread, no Spark
    * job) through the same OutputWriter a write job's task would use.
    * The caller's iterator may reuse its InternalRow per element (the
    * writer consumes each row before the next is produced). */
  private def writeParquetFileDriver(schema: StructType, dir: String,
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Unit = {
    val (factory, conf) = pqFactory(schema)
    val i = pqFileSeq.getAndIncrement()
    val tid = new org.apache.hadoop.mapreduce.TaskAttemptID(
      new org.apache.hadoop.mapreduce.TaskID(
        new org.apache.hadoop.mapreduce.JobID("graftdriver", 0),
        org.apache.hadoop.mapreduce.TaskType.MAP, i), 0)
    val ctx =
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf, tid)
    val path = s"$dir/part-00000-${java.util.UUID.randomUUID()}" +
      s".c000${factory.getFileExtension(ctx)}"
    val w = factory.newInstance(path, schema, ctx)
    try rows.foreach(w.write) finally w.close()
  }

  /** The reduce tree's written data schema — exactly the schema the job
    * spelling persists (`createDataset[(String, R)].toDF` minus the
    * partition columns), so driver-written and job-written tree files
    * are interchangeable. */
  private lazy val treeWriteEnc =
    org.apache.spark.sql.catalyst.encoders.encoderFor(
      Encoders.tuple(Encoders.STRING, encR))
  private lazy val treeWriteSchema = StructType(
    treeWriteEnc.schema.fields.zip(Seq("reduce_key", "payload"))
      .map { case (f, n) => f.copy(name = n) })
  /** [[treeWriteSchema]] as a parquet scan reports it (all nullable):
    * the schema of the driver key reads, so their results carry the
    * Spark plan's exact types. */
  private lazy val treeDataSchema =
    Executer.readNullable(treeWriteSchema).asInstanceOf[StructType]
  /** The tree files' key column alone: a key-only driver read decodes
    * no payload. */
  private lazy val keyOnlySchema =
    StructType(Seq(StructField("reduce_key", StringType)))

  /** Driver spelling of the map-output write for driver-local batches:
    * the rows are already on the driver, so the per-parent files are
    * written straight into the staging layout (sorted by reduce_key,
    * like the job spelling's sortWithinPartitions) and renamed in by
    * the same additive [[mergeStagedDir]] both spellings share —
    * identical append visibility (files appear atomically, one rename
    * each) and identical manifest bookkeeping (the returned rels are
    * what the model adds). Derived columns use the same driver-side
    * spellings the probe paths already rely on
    * (`StableBucketHash.hash` ≡ the SQL `stableBucket`). */
  private def appendMapDriverFiles(
      rows: Seq[(String, String, R)], batchSeq: Int): Vector[String] = {
    val staging = s"$mapResultsPath.staging"
    fs.delete(new Path(staging), true)
    // One file per parent, rows sorted by reduce_key — the file set a
    // single-task partitioned write job produces.
    val ser = mapWriteEnc.createSerializer()
    rows.groupBy(r => Executer.parentOf(r._1, config.fanIn)).foreach {
      case (parent, rs) =>
        writeParquetFileDriver(mapWriteSchema, s"$staging/parent=$parent",
          rs.sortBy(_._2).iterator.map { case (id, key, r) =>
            ser((StableBucketHash.hash(id, config.buckets), key, id,
              batchSeq, r))
          })
    }
    mergeStagedDir(mapResultsPath)
  }

  /** Stage the given tree rows as driver-written parquet files — one
    * per (level, part) directory, rows sorted by reduce_key: the file
    * set the clustered single-task tree write job produces — and merge
    * them in through the same additive [[mergeStagedDir]] as a job
    * write. Returns the new store-relative paths for the caller to
    * publish. */
  private def stageTreeDriverFiles(
      rows: Iterable[(String, R, Int, Int)]): Vector[String] = {
    val staging = s"$treePath.staging"
    fs.delete(new Path(staging), true)
    val ser = treeWriteEnc.createSerializer()
    rows.groupBy(r => (r._3, r._4)).foreach { case ((level, part), rs) =>
      writeParquetFileDriver(treeWriteSchema,
        s"$staging/level=$level/part=$part",
        rs.toArray.sortBy(_._1).iterator.map(r => ser((r._1, r._2))))
    }
    mergeStagedDir(treePath)
  }

  private lazy val treeRowDeser =
    treeWriteEnc.resolveAndBind().createDeserializer()

  /** All rows of the given live tree files, read on the driver thread.
    * None past `cap` rows. */
  private def readTreeFilesDriver(
      files: Seq[((Int, Int), Path, Long)], cap: Int)
      : Option[Vector[(String, R, Int, Int)]] = {
    val out = Vector.newBuilder[(String, R, Int, Int)]
    var n = 0
    files.foreach { case ((level, part), p, len) =>
      Executer.foreachRowDriver(spark, treeWriteSchema, p, len) { row =>
        if (n <= cap) {
          val (k, r) = treeRowDeser(row)
          out += ((k, r, level, part))
          n += 1
        }
      }
    }
    if (n > cap) None else Some(out.result())
  }

  /** The map table's columns over a batch's raw (doc_id, reduce_key,
    * payload) map output: normalized id, bucket, parent, the batch's
    * seq. ONE spelling for the job write's `mapped` plan and the driver
    * write's [[mapWriteSchema]]. */
  private def mapColumns(raw: DataFrame, batchSeq: Int): DataFrame =
    raw.withColumn("doc_id", upper($"doc_id")) // no-op for local rows: one spelling
      .withColumn(
        "bucket",
        StableBucketHash.stableBucket($"doc_id", config.buckets))
      .withColumn("parent", $"bucket" / lit(config.fanIn) cast "int")
      .withColumn("seq", lit(batchSeq))
      .select("parent", "bucket", "reduce_key", "doc_id", "seq", "payload")

  /** An empty map output with the map table's columns, through
    * [[mapColumns]]: a purge's (it maps no document), and the source of
    * [[mapWriteSchema]]. */
  private lazy val noMapOutput: DataFrame =
    mapColumns(spark.createDataset(Seq.empty[(String, String, R)])(encKR)
      .toDF("doc_id", "reduce_key", "payload"), 0)

  /** The map files' written schema — the one the job spelling persists
    * from `mapped` (partition column excluded), so driver-written and
    * job-written map files are interchangeable. Derived once per handle
    * from [[noMapOutput]]: `bucket` inherits `doc_id`'s nullability
    * there, which [[mapDriverDataSchema]] does not reproduce. */
  private lazy val mapWriteSchema: StructType =
    StructType(noMapOutput.schema.filterNot(_.name == "parent"))

  /** The map table's row codec without its partition column —
    * (bucket, reduce_key, doc_id, seq, payload) — shared by the driver
    * write's serializer and the driver-side probe read, whose schema is
    * the written files' columns and types whichever spelling wrote
    * them. */
  private lazy val mapWriteEnc =
    org.apache.spark.sql.catalyst.encoders.encoderFor(
      Encoders.tuple(Encoders.scalaInt, Encoders.STRING, Encoders.STRING,
        Encoders.scalaInt, encR))
  private lazy val mapDriverDataSchema = StructType(
    mapWriteEnc.schema.fields
      .zip(Seq("bucket", "reduce_key", "doc_id", "seq", "payload"))
      .map { case (f, n) => f.copy(name = n) })
  private lazy val mapRowDeser =
    mapWriteEnc.resolveAndBind().createDeserializer()

  /** The LIVE map rows of the given parent directories under `snap`,
    * read on the driver thread — no Spark job, no plan analysis. Exactly
    * the rows `readMapResultsAt(snap).where(parent ∈ parents)` would
    * scan: the snapshot's live files with the local tombstone overlay
    * applied (a row survives iff no tombstone for its doc is newer than
    * the batch that wrote it). Each row's `doc_id` is compared as a
    * `UTF8String` before the row is decoded, so a row is decoded only
    * when it is returned.
    *
    * Returns (staleRows, allRows):
    *   - `staleRows` — the live rows whose doc_id ∈ `idsSet`, as
    *     (reduce_key, parent, payload), truncated at
    *     [[DriverDirtyLimit]]+1 exactly like the probe collect's
    *     `limit(DriverDirtyLimit + 1)` (the caller derives overflow
    *     from the length, same as the job spelling);
    *   - every live row as (reduce_key, parent, doc_id, seq, payload),
    *     for the pruned recompute's level-0 reuse — only when `allRows`
    *     asks for them, and None past [[DriverMergeMaxRows]] of them:
    *     from then on only `idsSet`'s rows are decoded and the read
    *     degrades to the probe alone (a 10k-doc probe on a 456k-row
    *     store streams ~90 ms against a 200–350 ms collect job).
    *
    * None when a whole-read gate trips — distributed tombstones
    * present (their parquet overlay stays on the job path), live bytes
    * past [[DriverMapReadMaxBytes]], or a read error — and the caller
    * runs the probe job unchanged. */
  private def readMapParentsDriver(snap: Snapshot, parents: Seq[Int],
      idsSet: Set[String], allRows: Boolean)
      : Option[(Vector[(String, Int, R)],
        Option[Vector[(String, Int, String, Int, R)]])] = {
    if (tombDistNonEmpty(snap)) return None
    val files = liveMapFiles(parents, snap)
    if (files.map(_._3).sum > DriverMapReadMaxBytes) return None
    val tomb: Map[String, Int] = tombLocalEntries(snap).toMap
    val want = idsSet.map(org.apache.spark.unsafe.types.UTF8String.fromString)
    val docOrdinal = mapDriverDataSchema.fieldIndex("doc_id")
    try {
      val stale = Vector.newBuilder[(String, Int, R)]
      var nStale = 0
      val all = Vector.newBuilder[(String, Int, String, Int, R)]
      var nAll = 0
      var keepAll = allRows
      files.foreach { case (parent, p, len) =>
        Executer.foreachRowDriver(spark, mapDriverDataSchema, p, len) { row =>
          val mine = want(row.getUTF8String(docOrdinal))
          if (mine || keepAll) {
            val (_, key, doc, seq, payload) = mapRowDeser(row)
            val dead = tomb.get(doc).exists(ts => seq < ts)
            if (!dead) {
              if (mine && nStale <= DriverDirtyLimit) {
                stale += ((key, parent, payload))
                nStale += 1
              }
              if (keepAll) {
                all += ((key, parent, doc, seq, payload))
                nAll += 1
                if (nAll > DriverMergeMaxRows) { keepAll = false; all.clear() }
              }
            }
          }
        }
      }
      Some((stale.result(), if (keepAll) Some(all.result()) else None))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Whole-table replacement: stage + merge in, then retire every
    * previously-live file of the table (they stay on disk for retained
    * snapshots — a full rebuild over an existing store must not
    * physically overwrite what a reader may be scanning). The staged
    * write clusters rows BY the partition columns (and sorts by
    * reduce_key inside each cluster): each task then writes only its own
    * partition directories — file count stays O(#partition values), not
    * O(tasks × values) — and parquet row-group min/max stats on
    * reduce_key let key-filtered scans skip row groups. */
  private def writePartitioned(
      df: DataFrame, destPath: String, partitionCols: Seq[String],
      clustered: Boolean = false): Unit =
    replaceTable(new Path(destPath).getName,
      stagedWriteIn(df, destPath, partitionCols, clustered))

  /** @param clustered pass true only when the input's task partitioning
    *   already clusters rows by the partition column (narrow
    *   filter-on-scan plans, or single-partition tiny-shuffle plans):
    *   then the repartition shuffle is skipped and each task writes the
    *   directories its rows already belong to. A plan with a join or a
    *   wide shuffle in it must keep the repartition, or every task
    *   writes a sliver of every directory (task-count × dir-count tiny
    *   files). */
  private def stageAndOverwrite(
      df: DataFrame, destPath: String, partitionCol: String,
      partitions: Seq[Int], clustered: Boolean = false): Unit =
    stageAndOverwriteDirs(df, destPath, Seq(partitionCol),
      partitions.map(p => s"$partitionCol=$p"), clustered)

  /** Both reduce levels in one staged write + swap (see `reduce_tree`
    * layout note in the class doc). */
  private def stageAndOverwriteTree(
      df: DataFrame, dirs: Seq[String], clustered: Boolean): Unit =
    stageAndOverwriteDirs(df, treePath, Seq("level", "part"), dirs, clustered)

  /** Partition-level overwrite: the rewritten content of the caller-named
    * directories is fully materialized to staging, merged in ADDITIVELY,
    * and the replaced directories' previously-live files are retired
    * (not moved) — a reader's snapshot keeps resolving them until GC.
    * NOT Spark's `partitionOverwriteMode=dynamic`: that only replaces
    * partitions *present in the new data*, so a directory whose
    * rewritten content is EMPTY (last doc of a key deleted / remapped
    * away) would keep its stale files. */
  private def stageAndOverwriteDirs(
      df: DataFrame, destPath: String, partitionCols: Seq[String],
      dirs: Seq[String], clustered: Boolean): Unit =
    replaceDirs(new Path(destPath).getName, dirs,
      stagedWriteIn(df, destPath, partitionCols, clustered))

  /** Partition-level replacement in the pending generation: retire the
    * named directories' live files, then name the new files. */
  private def replaceDirs(table: String, dirs: Seq[String],
      rels: Vector[String]): Unit = {
    dirs.foreach(d => modelRetireDir(s"$table/$d"))
    modelAddFiles(rels)
  }

  // ---------------------------------------------------------------------
  // Merge-on-read tombstones — the reference invalidates a changed doc by
  // deleting exactly its per-doc files (`Executer.cs:253-258`, cost ∝
  // changed docs). At parquet scale a physical per-doc delete would be a
  // partition rewrite (O(partition) write amplification — a 1-doc update
  // rewriting 1/fanIn of a 100 TB table). Instead, every map row carries
  // the `seq` of the batch that wrote it; invalidation WRITES a tombstone
  // (doc_id → batch seq, "rows of this doc older than seq are dead") and
  // APPENDS the new rows — write cost O(batch). Reads apply tombstones
  // with a broadcast join (zero plan change when none exist); compact()
  // folds them back into the data files, and execute() auto-folds past
  // `config.tombstoneLimit` entries so read overhead stays bounded.
  //
  // Two spellings, mirroring the dirty WAL: driver-known batches write a
  // single merged local file (one create+close, no Spark job); large
  // batches append the incoming-id set as parquet (one O(batch) job).
  // ---------------------------------------------------------------------

  private lazy val tombSchema = StructType(Seq(
    StructField("doc_id", StringType), StructField("tomb_seq", IntegerType)))

  private def currentSeq: Int =
    if (!exists(seqPath)) -1
    else {
      val in = new java.io.DataInputStream(stateFs.open(new Path(seqPath)))
      try in.readInt() finally in.close()
    }

  /** Monotonic batch sequence, persisted so it survives re-opens. The
    * write happens before any state mutation; a crash after the bump
    * burns a seq, which is harmless. */
  private def bumpSeq(): Int = {
    val n = currentSeq + 1
    writeLocalAtomic(seqPath)(_.writeInt(n))
    n
  }

  // Length-prefixed raw UTF-8 for USER-derived strings (document ids,
  // reduce keys) in the local binary records: `writeUTF` throws
  // UTFDataFormatException past 65535 modified-UTF-8 bytes, and a batch
  // carrying such a key would fail at archive time — after publish
  // (ADVICE r8). Manifest serialization keeps writeUTF: its strings are
  // store-relative file paths the engine itself generates, bounded by
  // construction.
  private def writeStr(out: java.io.DataOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.writeInt(b.length); out.write(b)
  }
  private def readStr(in: java.io.DataInputStream): String =
    Executer.decodeStr(in)

  private def readTombFile(path: String): Seq[(String, Int)] = {
    val in = new java.io.DataInputStream(stateFs.open(new Path(path)))
    try Executer.decodeTombFile(in) finally in.close()
  }

  /** The local tombstone entries of a snapshot: the immutable versioned
    * file its manifest references. */
  private def tombLocalEntries(snap: Snapshot): Seq[(String, Int)] =
    snap.tombLocal.map(rel => readTombFile(s"$storePath/$rel")).getOrElse(Nil)

  private def tombDistNonEmpty(snap: Snapshot): Boolean =
    snap.live.getOrElse("tombstones", Vector.empty).nonEmpty

  /** Merge new tombstones into the local state (newer seq wins — and the
    * incoming seq is always the largest yet). Rewriting the whole set is
    * O(entries); the auto-fold bound keeps that a few MB at most. Each
    * merge writes a NEW immutable `_tomb/t<seq>.bin` and re-points the
    * pending generation at it (snapshot stability: a reader's resolved
    * manifest keeps referencing the previous file). */
  private def addTombstonesLocal(ids: Seq[String], seq: Int): Unit = {
    val merged = tombLocalEntries(pending).toMap ++ ids.map(_ -> seq)
    val rel = s"_tomb/t$seq.bin"
    writeLocalAtomic(s"$storePath/$rel") { out =>
      out.writeInt(merged.size)
      merged.foreach { case (k, s) => writeStr(out, k); out.writeInt(s) }
    }
    modelSetTombLocal(Some(rel))
  }

  /** Large batches' spelling: the incoming-id set as staged parquet (one
    * O(batch) job), named in the pending generation. */
  private def addTombstonesDist(ids: DataFrame, seq: Int): Unit =
    modelAddFiles(stagedWriteIn(ids.withColumn("tomb_seq", lit(seq)),
      tombDistPath, Nil, clustered = false))

  /** The live tombstone set as (doc_id, tomb_seq), max-merged per doc;
    * None when empty (the common steady state after a fold). */
  private def tombstoneDF(snap: Snapshot): Option[DataFrame] = {
    val local = tombLocalEntries(snap)
    val hasDist = tombDistNonEmpty(snap)
    (local.nonEmpty, hasDist) match {
      case (false, false) => None
      case (true, false) => Some(local.toDF("doc_id", "tomb_seq"))
      case _ =>
        val dist = relFor(tombDistPath, tombSchema, snap)
        val all =
          if (local.isEmpty) dist
          else local.toDF("doc_id", "tomb_seq").unionByName(dist)
        Some(all.groupBy("doc_id").agg(max($"tomb_seq") as "tomb_seq"))
    }
  }

  /** A map row survives iff no tombstone for its doc is newer than the
    * batch that wrote it. Two spellings by live-set size:
    *
    *   - SMALL sets living only in the driver-local file (the steady
    *     state of a maintenance loop between folds): an exact predicate
    *     — `¬(doc_id ∈ ids(s) ∧ seq < s)` per distinct tombstone seq —
    *     instead of a join. A broadcast join here costs a broadcast-
    *     exchange job (+ its ~100ms driver round trip) per state read
    *     and deepens every downstream plan, which dominated the fixed
    *     cost of a 1-doc update; the predicate adds zero jobs and its
    *     `isin` pushes into the parquet scan. The local file is already
    *     max-merged per doc, so the predicate is exact, not heuristic.
    *   - Larger or distributed sets: broadcast join, broadcast-safe by
    *     construction — the set is bounded by `tombstoneLimit`
    *     (auto-fold), so the big map-side scan is never shuffled. */
  private val TombPredicateLimit = 512

  private def applyTombstones(df: DataFrame, snap: Snapshot): DataFrame = {
    val local = tombLocalEntries(snap)
    val hasDist = tombDistNonEmpty(snap)
    if (!hasDist && local.isEmpty) return df
    // One OR clause per distinct seq: cap the clause count too — a deep
    // Or-tree neither pushes down nor survives the analyzer's recursion
    // (same failure shape as the dirty-pair Or-tree, rereducePruned).
    if (!hasDist && local.size <= TombPredicateLimit &&
        local.iterator.map(_._2).toSet.size <= 16) {
      val dead = local.groupBy(_._2).toSeq.map { case (s, entries) =>
        $"doc_id".isin(entries.map(_._1): _*) && $"seq" < lit(s)
      }.reduce(_ || _)
      return df.where(!dead)
    }
    tombstoneDF(snap) match {
      case None => df
      case Some(t) =>
        df.join(broadcast(t), Seq("doc_id"), "left")
          .where($"tomb_seq".isNull || $"seq" >= $"tomb_seq")
          .drop("tomb_seq")
    }
  }

  /** EXACT entries in the live tombstone set, without a Spark job: the
    * local file stores its count in its header; the parquet part is
    * summed from file footers — driver-side metadata reads, no data
    * pages touched. (The previous bytes/20 estimate undercounted
    * dictionary/snappy-compressed files, which could let the live set
    * exceed `tombstoneLimit` without triggering the auto-fold that
    * keeps [[applyTombstones]] broadcastable — ADVICE r3.) Docs
    * re-tombstoned across batches count once per batch, which only
    * triggers the fold earlier — conservative in the right direction. */
  private def tombstoneEstimate(): Long = {
    val snap = snapshotNow()
    var n = 0L
    snap.tombLocal.foreach { rel =>
      val in = new java.io.DataInputStream(
        stateFs.open(new Path(s"$storePath/$rel")))
      try n += in.readInt() finally in.close()
    }
    val distFiles = snap.live.getOrElse("tombstones", Vector.empty)
      .map(rel => new Path(s"$storePath/$rel"))
    n + distFiles.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          p, spark.sparkContext.hadoopConfiguration))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Fold tombstones into the data files: rewrite exactly the parent
    * partitions that hold tombstoned docs (a doc's parent is a pure
    * function of its id) with dead rows dropped, then clear the tombstone
    * state. A crash mid-fold leaves the previous generation published
    * (tombstones included) and the fold's files as orphans compact()
    * sweeps. Caller must hold the lease. */
  private def foldTombstonesLocked(): Unit = {
    val snap = pending
    val local = tombLocalEntries(snap)
    val hasDist = tombDistNonEmpty(snap)
    if (snap.tombLocal.isEmpty && !hasDist) return
    val localParents = local.map(t => Executer.parentOf(t._1, config.fanIn))
    val distParents =
      if (hasDist)
        relFor(tombDistPath, tombSchema, snap)
          .select((StableBucketHash.stableBucket($"doc_id", config.buckets)
            / lit(config.fanIn)).cast("int") as "parent")
          .distinct().as[Int].collect().toSeq
      else Nil
    // A tombstone for a doc that never produced map rows has no partition
    // content to rewrite.
    val parents = (localParents ++ distParents).distinct.sorted.filter { p =>
      snap.live.getOrElse("map_results", Vector.empty)
        .exists(_.startsWith(s"map_results/parent=$p/"))
    }
    if (parents.nonEmpty) {
      val rows = readMapResults()
        .where($"parent".isin(parents.map(Integer.valueOf): _*))
      stageAndOverwrite(rows, mapResultsPath, "parent", parents)
      log.info(s"foldTombstones: rewrote ${parents.size} map partitions")
    }
    // Retire the tombstone state instead of deleting it: readers holding
    // a pre-fold snapshot still resolve the old tombstone files against
    // the old (dead-row-bearing) data files until GC.
    modelRetireTable("tombstones")
    modelSetTombLocal(None)
  }

  /** WAL for the dirty set — replaces the reference's `Schedules tree`
    * marker files (`Executer.cs:115-151`): written before state mutation,
    * cleared after the re-reduce completes.
    *
    * Two spellings: large dirty sets are written distributed as parquet;
    * small (driver-known) dirty sets are written directly to the store
    * filesystem ([[writeDirtyLogLocal]]) — a single create+close, no
    * Spark job, no commit protocol. */
  private def writeDirtyLog(dirty: DataFrame): Unit =
    dirty.write.mode("overwrite").parquet(dirtyPath)

  private val dirtyLocalPath = s"$storePath/dirty.pairs"

  private def writeDirtyLogLocal(pairs: Seq[(String, Int)]): Unit =
    writeLocalAtomic(dirtyLocalPath) { out =>
      out.writeInt(pairs.length)
      pairs.foreach { case (k, p) => writeStr(out, k); out.writeInt(p) }
    }

  private def readDirtyLogLocal(): Seq[(String, Int)] = {
    val in = new java.io.DataInputStream(stateFs.open(new Path(dirtyLocalPath)))
    try {
      val n = in.readInt()
      (0 until n).map(_ => (readStr(in), in.readInt()))
    } finally in.close()
  }

  private def readDirtyLog(): DataFrame = spark.read.parquet(dirtyPath)

  private def clearDirtyLog(): Unit = {
    // Publish BEFORE clearing the WAL: a crash between
    // the two replays an idempotent re-reduce of the just-published
    // state; clearing first would make a crash lose the batch's dirty
    // set while its data was already visible.
    // Whether this call actually lands a generation — a no-op batch
    // (nothing staged, nothing dirty) must NOT archive: pending.version
    // would still be the PREVIOUS generation and an empty record would
    // clobber its real one, silently under-reporting invalidations
    // (code-review r8).
    // Archive the WAL's key set as the ABOUT-to-publish generation's
    // changed-keys record ([[changedKeysSince]]) BEFORE the `_current`
    // flip (ADVICE r8): readers never query (since, cur] past the
    // published cur, so a pre-publish record for v+1 is invisible until
    // the flip — whereas archiving after the flip opened a crash window
    // where generation v's data was visible while changedKeysSince
    // reported an empty set for it (a consumer polling in that window
    // cached stale values until the recovery's next generation). A
    // crash BETWEEN archive and publish leaves an orphan record for an
    // unpublished version; the surviving WAL replays through recovery,
    // whose own pre-publish archive overwrites it for the version that
    // actually lands — never read meanwhile, never leaked.
    if (pendingDirty) archiveChangedKeys()
    publishPending()
    if (exists(dirtyPath)) fs.delete(new Path(dirtyPath), true)
    if (exists(dirtyLocalPath)) fs.delete(new Path(dirtyLocalPath), false)
  }

  // ---- changed-keys (CDC invalidation) log --------------------------
  // One record per published generation that mutated logical state:
  // `changed/c<v>` (driver-known key list, single local write — no
  // Spark job on the small-update hot path) or `changed/v<v>` (parquet,
  // distributed dirty sets). The FullRebuild sentinel records the union
  // of the PRE-rebuild final keys (staged by the rebuild paths before
  // they overwrite state) and the post-rebuild final keys — the honest
  // invalidation set of a reprocess-everything batch.
  private val changedDirPath = s"$storePath/changed"
  private def changedLocalPath(v: Long) = s"$changedDirPath/c$v"
  private def changedDistPath(v: Long) = s"$changedDirPath/v$v"
  private val changedRebuildStaging = s"$changedDirPath/rebuild.staging"
  private val changedHorizonPath = s"$changedDirPath/_horizon"

  /** Stage the pre-rebuild final keys so the sentinel archive can name
    * keys the rebuild made DISAPPEAR. Called by the rebuild-fallback
    * branch before any mutation; a crashed rebuild leaves the staging
    * in place for the recovery replay's archive. */
  private def stageRebuildOldKeys(): Unit =
    if (exists(treePath))
      readFinals().select("reduce_key").distinct()
        .write.mode("overwrite").parquet(changedRebuildStaging)

  private def archiveChangedKeys(): Unit = {
    // Called BEFORE publishPending flips `_current` (see clearDirtyLog):
    // the record belongs to the version the publish is about to land.
    val v = pending.version + 1
    if (v < 0) return
    def sentinelRecord(): Unit = {
      // No pre-rebuild keys staged (a first build) and a driver-small
      // final table: the keys are read on the driver into a local
      // record, so a local build runs no job at all.
      val finals =
        if (exists(changedRebuildStaging)) None
        else Some(liveTreeFilesWhere((l, _) => l == 2))
          .filter(_.iterator.map(_._3).sum <= DriverTreeReadMaxBytes)
      finals match {
        case Some(files) =>
          val keys = scala.collection.mutable.LinkedHashSet.empty[String]
          files.foreach { case (_, p, len) =>
            Executer.foreachRowDriver(spark, keyOnlySchema, p, len) { r =>
              keys += r.getUTF8String(0).toString
            }
          }
          writeLocalAtomic(changedLocalPath(v)) { out =>
            out.writeInt(keys.size); keys.foreach(writeStr(out, _))
          }
        case None =>
          val newKeys =
            if (exists(treePath)) readFinals().select("reduce_key").distinct()
            else spark.emptyDataFrame.withColumn("reduce_key", lit(""))
              .where(lit(false))
          val all =
            if (exists(changedRebuildStaging))
              newKeys.unionByName(spark.read.schema(newKeys.schema)
                .parquet(changedRebuildStaging)).distinct()
            else newKeys
          all.write.mode("overwrite").parquet(changedDistPath(v))
          if (exists(changedRebuildStaging))
            fs.delete(new Path(changedRebuildStaging), true)
      }
    }
    if (exists(dirtyLocalPath)) {
      val pairs = readDirtyLogLocal()
      if (pairs.exists(_._2 == FullRebuild)) sentinelRecord()
      else writeLocalAtomic(changedLocalPath(v)) { out =>
        val keys = pairs.map(_._1).distinct
        out.writeInt(keys.length); keys.foreach(writeStr(out, _))
      }
    } else if (exists(dirtyPath)) {
      val dirty = readDirtyLog()
      if (dirty.where($"parent" === FullRebuild).limit(1).count() > 0)
        sentinelRecord()
      else dirty.select($"reduce_key").distinct()
        .write.mode("overwrite").parquet(changedDistPath(v))
    }
  }

  /** Migrate the store to a different tree layout (fanIn / finalParts)
    * by rebuilding from the PERSISTED map output — the user map is never
    * re-run and the source corpus is never touched, which is the point:
    * at scale the map pass over source data dwarfs the re-reduce.
    *
    * Why this exists: the tree shape is a function of corpus size. A
    * 1-doc update re-reduces one whole parent group (sibling
    * recomputation, SURVEY §2.3.3) — O(corpus / fanIn) rows — so a store
    * that grows 100× eventually wants a wider fan-in, and the layout is
    * validated-immutable on an existing store (`configChecked`). This is
    * the supported migration path.
    *
    * Builds the destination NEXT TO the live store (a fresh directory;
    * refuses a non-empty one): the source stays readable and writable
    * throughout, and the caller re-points at the destination when it
    * returns — the online-backfill shape. Live rows are re-bucketed
    * under the new layout with tombstones applied en route, so the
    * destination starts tombstone-free; the batch-seq counter carries
    * over (rows keep their original `seq`, so a destination counter
    * restarting at 0 would write future tombstones that kill nothing).
    * Crash mid-reshape leaves the source untouched and the destination
    * with the standard full-rebuild WAL sentinel; wipe the destination
    * directory and re-run.
    */
  def reshapeTo(newStorePath: String, newConfig: ExecuterConfig,
      dstLease: Option[LeaseProvider] = None): Executer[D, R] = withLease {
    recoverLocked()
    require(exists(mapResultsPath),
      s"$storePath has no built store to reshape")
    // The destination gets its OWN lease (dstLease, or the default
    // atomic-create claim on the new path) — lease providers are bound
    // to one store's lease key, so sharing the source's instance would
    // both double-acquire the already-held source lease and release it
    // mid-reshape when the inner withLease unwinds.
    val dst = new Executer[D, R](task, newStorePath, newConfig, dstLease)
    require(!dst.exists(dst.mapResultsPath),
      s"reshape destination $newStorePath already holds a store")
    val rebucketed = readMapResults()
      .withColumn("bucket",
        StableBucketHash.stableBucket($"doc_id", newConfig.buckets))
      .withColumn("parent", ($"bucket" / lit(newConfig.fanIn)).cast("int"))
      .select("parent", "bucket", "reduce_key", "doc_id", "seq", "payload")
    val seqFloor = currentSeq
    dst.withLease {
      if (seqFloor >= 0) dst.writeLocalAtomic(dst.seqPath)(_.writeInt(seqFloor))
      dst.writeDirtyLogLocal(Seq(("", dst.FullRebuild)))
      dst.writePartitioned(rebucketed, dst.mapResultsPath, Seq("parent"))
      dst.rereduceAll()
      dst.clearDirtyLog()
    }
    dst
  }

  /** Consolidate fragmented `map_results` partitions. The pure-insert
    * fast path appends one file per batch per touched partition (that is
    * what makes inserts O(batch) — no read-rewrite), so a long
    * append-mostly workload fragments the map table; reads stay correct
    * but pay per-file open costs and lose row-group-skip efficiency
    * (each small file is its own row group). `compact()` rewrites every
    * partition holding more than `maxFilesPerPartition` data files into
    * one file, through the same staged swap as incremental maintenance —
    * an offline ops utility (driver lists ≤ fanIn directories; the data
    * rewrite itself is a distributed job), safe to run between batches
    * under the writer lease. */
  def compact(maxFilesPerPartition: Int = 8): Unit = withLease {
    recoverLocked()
    // Fold tombstones first: dead rows are dropped from their partitions
    // and the merge-on-read join disappears from every subsequent read.
    foldTombstonesLocked()
    // Fragmentation is judged on LIVE files: retired generations awaiting
    // GC are not the read path's cost.
    def liveDirCounts(table: String): Map[String, Int] =
      pending.live.getOrElse(table, Vector.empty)
        .groupBy(r => r.substring(0, r.lastIndexOf('/')))
        .map { case (d, files) => d.stripPrefix(s"$table/") -> files.size }
    val fragmentedMap: Seq[Int] =
      liveDirCounts("map_results").collect {
        case (d, n) if d.startsWith("parent=") && n > maxFilesPerPartition =>
          d.stripPrefix("parent=").toInt
      }.toSeq.sorted
    if (fragmentedMap.nonEmpty) {
      val rows = readMapResults()
        .where($"parent".isin(fragmentedMap.map(Integer.valueOf): _*))
      // repartition(col): one shuffle partition per parent value → one
      // consolidated file per directory.
      stageAndOverwrite(rows, mapResultsPath, "parent", fragmentedMap)
      log.info(s"compact: rewrote ${fragmentedMap.size} map partitions")
    }
    // The reduce tree: incremental writes swap whole (level, part)
    // directories, so fragmentation only appears if a wide write left
    // several task files in one directory; consolidate those too.
    val fragDirs: Seq[(Int, Int)] =
      liveDirCounts("reduce_tree").collect {
        case (d, n) if n > maxFilesPerPartition &&
            d.matches("level=\\d+/part=-?\\d+") =>
          val Array(l, p) = d.split('/')
          (l.stripPrefix("level=").toInt, p.stripPrefix("part=").toInt)
      }.toSeq.sorted
    if (fragDirs.nonEmpty) {
      val cond = fragDirs.map { case (l, p) => $"level" === l && $"part" === p }
        .reduce(_ || _)
      stageAndOverwriteTree(
        readTree().where(cond),
        fragDirs.map { case (l, p) => s"level=$l/part=$p" },
        clustered = false)
      log.info(s"compact: rewrote ${fragDirs.size} tree partitions")
    }
    // compact() is the explicit space-reclamation hammer (SURVEY §14.4):
    // reclaim every retired generation NOW (ignoring retention/grace) and
    // sweep orphans a crashed batch may have merged in unpublished. A
    // reader still holding a pre-compact snapshot gets a retriable error,
    // the documented trade of running the hammer.
    publishPending() // land the fold/consolidation generation first
    if (pending.retired.nonEmpty) {
      pending.retired.foreach { r =>
        try fs.delete(new Path(s"$storePath/${r.path}"), false)
        catch { case _: java.io.IOException => () }
      }
      pending = pending.copy(retired = Vector.empty)
      pendingDirty = true
      publishPending()
    }
    sweepOrphansLocked()
    // Prune changed-keys records past the retention window and advance
    // the horizon so changedKeysSince refuses (loudly) to answer for
    // baselines older than what survives — the same contract as
    // time-traveling to a GC'd generation.
    val cutoff = pending.version - config.manifestRetention
    if (cutoff > StoreSnapshot.horizon(stateFs, storeRoot) &&
        exists(changedDirPath)) {
      // Horizon BEFORE the deletes (code-review r8): a crash between
      // the two then refuses queries it could still have answered —
      // conservative — instead of silently reading pruned generations
      // as "no changes".
      writeLocalAtomic(changedHorizonPath)(_.writeLong(cutoff))
      fs.listStatus(new Path(changedDirPath)).foreach { st =>
        val name = st.getPath.getName
        val v = name.headOption match {
          case Some('c') | Some('v') =>
            try name.drop(1).toLong catch { case _: NumberFormatException => Long.MaxValue }
          case _ => Long.MaxValue
        }
        if (v <= cutoff) fs.delete(st.getPath, true)
      }
    }
  }

  /** Delete every on-disk data file the current manifest does not
    * reference (crashed-batch leftovers), stray staging dirs, old
    * manifest files, and the distributed-tombstone/_tomb dirs when empty.
    * Caller holds the lease and has just published a retired-free
    * generation, so live files are exactly the published set. */
  private def sweepOrphansLocked(): Unit = {
    val liveSet = pending.live.valuesIterator.flatten.toSet ++ pending.tombLocal
    def sweep(dirPath: String, table: String, ext: String): Unit = {
      val root = new Path(dirPath)
      if (!fs.exists(root)) return
      def walk(p: Path, rel: String): Unit = fs.listStatus(p).foreach { st =>
        val childRel =
          if (rel.isEmpty) st.getPath.getName else s"$rel/${st.getPath.getName}"
        if (st.isDirectory) walk(st.getPath, childRel)
        else if (st.getPath.getName.endsWith(ext) &&
            !liveSet.contains(s"$table/$childRel"))
          fs.delete(st.getPath, false)
      }
      walk(root, "")
    }
    sweep(mapResultsPath, "map_results", ".parquet")
    sweep(treePath, "reduce_tree", ".parquet")
    sweep(tombDistPath, "tombstones", ".parquet")
    sweep(tombDirPath, "_tomb", ".bin")
    Seq(s"$mapResultsPath.staging", s"$treePath.staging",
      s"$tombDistPath.staging").foreach { p =>
      if (exists(p)) fs.delete(new Path(p), true)
    }
    // Empty side dirs: delete so "is there tombstone state" stays
    // answerable by existence checks.
    Seq(tombDistPath, tombDirPath).foreach { p =>
      if (exists(p) && fs.listStatus(new Path(p)).isEmpty)
        fs.delete(new Path(p), true)
    }
    // Manifest files other than the current generation.
    if (exists(manifestsPath))
      fs.listStatus(new Path(manifestsPath)).foreach { st =>
        if (st.getPath.getName != s"m${pending.version}")
          fs.delete(st.getPath, false)
      }
  }

  /** Store-level operational stats — what an operator of a 100 TB
    * deployment watches between batches: per-table file counts and
    * bytes (fragmentation → "time to compact()"), live tombstone count
    * (merge-on-read read overhead), and pending recovery state. Driver
    * lists at most fanIn + 2·finalParts + 2 directories; no Spark job. */
  def storeStats(): Map[String, Long] = {
    configChecked
    val snap = snapshotNow()
    // Live files only — the read path's actual cost. Retired generations
    // awaiting GC are reported separately.
    def dirStats(table: String): (Long, Long) = {
      val files = snap.live.getOrElse(table, Vector.empty)
      (files.size.toLong,
        files.map(rel => fileLen(new Path(s"$storePath/$rel"))).sum)
    }
    val (mapFiles, mapBytes) = dirStats("map_results")
    val (treeFiles, treeBytes) = dirStats("reduce_tree")
    Map(
      "map_files" -> mapFiles, "map_bytes" -> mapBytes,
      "tree_files" -> treeFiles, "tree_bytes" -> treeBytes,
      "tombstones" -> tombstoneEstimate(),
      "retired_files" -> snap.retired.size.toLong,
      "generation" -> readCurrentVersion(), // −1 while nothing is published
      "pending_dirty_pairs" -> pendingDirtyPairs())
  }

  /** Maintenance-state visibility (the reference's operators could watch
    * its Schedules tree; ours ask the index): false iff an interrupted
    * batch left a dirty WAL behind — [[recover]] would replay it. Reads
    * ([[query]]/[[queryAll]]) are always served from the last completed
    * reduce either way (`Executer.cs:370-377` semantics). */
  def isClean: Boolean = !exists(dirtyPath) && !exists(dirtyLocalPath)

  /** Number of (reduce key, parent partition) pairs a pending recovery
    * would re-reduce; 0 when [[isClean]]. */
  def pendingDirtyPairs(): Long =
    if (exists(dirtyLocalPath)) readDirtyLogLocal().size.toLong
    else if (exists(dirtyPath))
      readDirtyLog().select("reduce_key", "parent").distinct().count()
    else 0L

  /** Crash recovery: if a dirty log survives from an interrupted execute,
    * re-run the re-reduce for it (idempotent — level-1 parents are rebuilt
    * from scratch, §2.3.3/§2.3.4 of SURVEY.md). A [[FullRebuild]]
    * sentinel replays the whole-build reduce. */
  def recover(): Unit = withLease(recoverLocked())

  private def recoverLocked(): Unit = {
    // Live data never moves: a crashed batch leaves only orphan files the
    // published manifest doesn't reference (compact() sweeps them), so
    // recovery is the WAL replay alone.
    if (exists(dirtyLocalPath)) {
      // Small-update WAL: the exact dirty pairs, replayed through the
      // pruned path against the published map state (partials are
      // rebuilt from scratch). A FullRebuild sentinel (interrupted
      // initial build or rebuild fallback) replays the whole-build
      // reduce instead.
      val pairs = readDirtyLogLocal()
      if (pairs.exists(_._2 == FullRebuild)) rereduceAll()
      else {
        val dirtyParents = pairs.map(_._2).distinct.sorted
        withTinyShuffle(1) {
          rereducePruned(pairs, readMapResults()
            .where($"parent".isin(dirtyParents.map(Integer.valueOf): _*)))
        }
      }
      clearDirtyLog()
    } else if (exists(dirtyPath)) {
      val dirty = readDirtyLog()
      if (dirty.where($"parent" === FullRebuild).limit(1).count() > 0)
        rereduceAll()
      else rereduce(dirty.select("reduce_key", "parent").distinct())
      clearDirtyLog()
    }
  }
}
