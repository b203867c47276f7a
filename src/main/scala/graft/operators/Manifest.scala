package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One durable artifact's `_MANIFEST.properties`, as an immutable
  * key -> value map. The format and its commit protocol are described in
  * ARCHITECTURE.md ("Durable artifacts"); the companion object is their
  * one implementation, shared by every family that outlives a session
  * ([[BigramLm]], [[TrigramLm]], [[QualityClassifier]], [[MarkovModel]],
  * [[InvertedIndex]], [[IvfIndex]], [[PqIndex]], [[ChunkIndex]],
  * [[BpeTokenizer]]). A family keeps only its tables, its scalar fields,
  * its validation predicate and its delta math. */
final case class Manifest(fields: Map[String, String]) {
  def get(key: String): Option[String] = fields.get(key)

  /** A field the format requires. */
  def apply(key: String): String = fields.getOrElse(key,
    throw new IllegalStateException(s"manifest has no `$key` field"))

  def long(key: String): Long = apply(key).toLong

  /** Committed tombstone rows; 0 for an artifact that never saw an excise. */
  def tombRows: Long = get("tombRows").map(_.toLong).getOrElse(0L)

  /** Every batch tag applied so far: the `appliedSources` ledger, or the
    * build source for an artifact no maintenance op has touched. */
  def ledger: Set[String] = get("appliedSources")
    .map(_.split(Manifest.SourceSep).toSet)
    .getOrElse(Set(get("source").getOrElse("")))

  /** Whether the committed count `key` equals `df`'s row count (no count
    * runs when the field is absent). */
  def counts(key: String, df: => DataFrame): Boolean =
    get(key).exists(_.toLong == df.count())

  /** This manifest after applying the batch `tag`: `tag` becomes the
    * source and joins the ledger, plus the op's own `updates`. */
  def applying(tag: String, updates: (String, Any)*): Manifest =
    this ++ (Seq("source" -> tag, Manifest.ledgerField(ledger + tag)) ++ updates)

  def ++(updates: Seq[(String, Any)]): Manifest =
    Manifest(fields ++ updates.map { case (k, v) => k -> v.toString })
}

object Manifest {
  val FileName = "_MANIFEST.properties"

  /** Ledger separator: U+0001 cannot occur in a path-derived source tag. */
  private val SourceSep = "\u0001"

  /** What a family declares about its manifest: the version it writes
    * and understands, its name in refusals and in the comment line, the
    * tables the torn-state recount checks (count field -> table
    * sub-directory), and whether it keeps a tombstone list. */
  final case class Format(version: String, kind: String,
      tables: Seq[(String, String)] = Nil, tombstones: Boolean = false)

  private[operators] def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def file(path: String) = new Path(s"$path/$FileName")

  private def tombstonePath(path: String) = new Path(s"$path/tombstones")

  /** The `appliedSources` field for `sources`, joined in sorted order. */
  def ledgerField(sources: Set[String]): (String, String) =
    "appliedSources" -> sources.toSeq.sorted.mkString(SourceSep)

  /** Read a properties file (a manifest or a writer lease). */
  private[operators] def readFile(fs: FileSystem, p: Path): Map[String, String] = {
    val props = new java.util.Properties()
    val in = fs.open(p)
    try props.load(in) finally in.close()
    props.stringPropertyNames().asScala.map(k => k -> props.getProperty(k)).toMap
  }

  /** Write a properties file; with `overwrite = false` the create fails
    * when the file exists (the writer lease's acquisition primitive). */
  private[operators] def writeFile(fs: FileSystem, p: Path,
      fields: Map[String, String], comment: String,
      overwrite: Boolean = true): Unit = {
    val props = new java.util.Properties()
    fields.foreach { case (k, v) => props.setProperty(k, v) }
    val out = fs.create(p, overwrite)
    try props.store(out, comment) finally out.close()
  }

  def read(spark: SparkSession, path: String): Manifest =
    Manifest(readFile(fileSystem(spark, path), file(path)))

  /** Commit `m` as the manifest at `path`, stamped with `format`'s
    * version. Written LAST by every op: its presence and counts are what
    * marks the artifact complete. */
  def write(spark: SparkSession, path: String, format: Format,
      m: Manifest): Unit =
    writeFile(fileSystem(spark, path), file(path),
      m.fields + ("version" -> format.version), s"graft ${format.kind} manifest")

  /** Commit a fresh build's manifest. A rebuild at a path that carried
    * pending excisions must not leave the stale tombstone list beside the
    * fresh tables, so the list is dropped first. */
  def writeBuilt(spark: SparkSession, path: String, format: Format,
      fields: (String, Any)*): Unit = {
    if (format.tombstones)
      fileSystem(spark, path).delete(tombstonePath(path), true)
    write(spark, path, format, Manifest(Map.empty) ++ fields)
  }

  /** The one validated reopen: the manifest exists (or a complete staged
    * `path-next` orphaned by a crash mid-swap is adopted), its version is
    * `format`'s and its source is the caller's, `open` builds the
    * artifact and runs the family's validation, and the tombstone count
    * matches. Any failure is a miss (None): the caller rebuilds. */
  def reopen[T](spark: SparkSession, path: String, format: Format,
      source: String)(open: Manifest => Option[T]): Option[T] =
    try {
      val fs = fileSystem(spark, path)
      if (!fs.exists(file(path)) && !WriterLease.adoptOrphanNext(spark, path)) None
      else {
        val m = Manifest(readFile(fs, file(path)))
        if (!m.get("version").contains(format.version) ||
          !m.get("source").contains(source)) None
        else open(m).filter(_ =>
          !format.tombstones || m.tombRows == countTombstones(spark, path))
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  /** Read the live manifest for a maintenance op, refusing a version this
    * build does not understand. */
  def readLive(spark: SparkSession, path: String, format: Format,
      op: String): Manifest = {
    val m = read(spark, path)
    require(m.get("version").contains(format.version),
      s"${format.kind} at $path has manifest version " +
        s"${m.get("version").getOrElse("<none>")}; this build understands " +
        s"only ${format.version} — rebuild instead of $op")
    m
  }

  /** Torn-state refusal: each of `tables` (count field -> sub-directory)
    * must hold the row count the manifest committed, and so must the
    * tombstone list — a previous op that crashed mid-write left them off.
    * Footer-stats recounts, never a data scan. */
  def requireCommitted(spark: SparkSession, path: String, m: Manifest,
      format: Format, op: String): Unit =
    require(format.tables.forall { case (key, table) =>
        spark.read.parquet(s"$path/$table").count() ==
          m.get(key).map(_.toLong).getOrElse(-1L)
      } && (!format.tombstones || countTombstones(spark, path) == m.tombRows),
      s"${format.kind} at $path does not match its committed manifest — a " +
        "previous append, excise or compact crashed mid-write; rebuild " +
        s"instead of $op onto a torn table")

  /** A ledgered maintenance op (append, excise) under the writer lease:
    * read the live manifest; return false, touching nothing, when `tag`
    * is already in the ledger (checked BEFORE the recount, so a replay
    * no-ops even on an artifact a later op tore, and a healthy replay
    * pays no count jobs); refuse a torn artifact; then run `body` on the
    * prior manifest. Returns true when applied. */
  def applyBatch(spark: SparkSession, path: String, format: Format,
      op: String, tag: String)(body: Manifest => Unit): Boolean =
    WriterLease.withLease(spark, path) {
      val prior = readLive(spark, path, format, op)
      if (prior.ledger.contains(tag)) false
      else {
        requireCommitted(spark, path, prior, format, op)
        body(prior)
        true
      }
    }

  /** Stage the COMPLETE next artifact at `path-next` — `stage` writes its
    * tables and its manifest last — and swap it live by two directory
    * renames ([[WriterLease.swapStaged]]). A crash before the swap leaves
    * the old artifact valid (the orphan is deleted by the next op); a
    * crash between the renames is recovered by [[reopen]]'s adoption. */
  def commitStaged(spark: SparkSession, path: String)(stage: String => Unit): Unit = {
    val fs = fileSystem(spark, path)
    fs.delete(new Path(s"$path-next"), true)
    stage(s"$path-next")
    WriterLease.swapStaged(fs, path)
  }

  /** Row count of the tombstone list; 0 when there is none. */
  def countTombstones(spark: SparkSession, path: String): Long =
    if (fileSystem(spark, path).exists(tombstonePath(path)))
      spark.read.parquet(s"$path/tombstones").count()
    else 0L

  /** Append excised ids (a one-column DataFrame) to the tombstone list.
    * Tombstones land BEFORE the manifest commit: a crash in between leaves
    * the list off the committed count, refused as torn. */
  def appendTombstones(path: String, ids: DataFrame): Unit =
    ids.write.mode("append").parquet(s"$path/tombstones")

  /** The pending tombstone list, when the manifest commits one. */
  def pendingTombstones(spark: SparkSession, path: String,
      m: Manifest): Option[DataFrame] =
    if (m.tombRows > 0) Some(spark.read.parquet(s"$path/tombstones")) else None

  /** `rows` without the tombstoned `key`s — the serving view between an
    * excise and the next compaction. */
  def withoutTombstones(spark: SparkSession, path: String, m: Manifest,
      rows: DataFrame, key: String): DataFrame =
    pendingTombstones(spark, path, m)
      .fold(rows)(t => rows.join(t, Seq(key), "left_anti"))

  /** Refuse appended `ids` (a one-column DataFrame named `key`) that match
    * a pending tombstone: the anti-join would serve them dead until the
    * next compaction. */
  def refuseTombstoned(spark: SparkSession, path: String, m: Manifest,
      ids: DataFrame, key: String): Unit =
    if (m.tombRows > 0) {
      val collisions = ids
        .join(spark.read.parquet(s"$path/tombstones"), Seq(key), "left_semi")
        .count()
      require(collisions == 0,
        s"$collisions appended ids collide with pending tombstones at " +
          s"$path — compact it (physically dropping the excised rows) " +
          "before re-ingesting those ids")
    }

  /** EXCISE by tombstone under the ledger: append `ids` to the list and
    * commit the new tombstone count with the ledger entry. */
  def excise(spark: SparkSession, path: String, format: Format,
      ids: DataFrame, tag: String): Boolean =
    applyBatch(spark, path, format, "excising", tag) { prior =>
      appendTombstones(path, ids)
      write(spark, path, format,
        prior.applying(tag, "tombRows" -> countTombstones(spark, path)))
    }

  /** OPTIMIZE one table of a written artifact under the writer lease:
    * recount it against the manifest, `rewrite` its survivors (rows whose
    * id column — `key` of the manifest — is tombstoned are dropped) into
    * the staging dir, recount the staged copy against the expected
    * survivor count BEFORE the swap, swap it in
    * ([[WriterLease.swapStaged]]), and with tombstones pending clear the
    * list and commit the new physical count (`rowsKey`) LAST. Without
    * tombstones the manifest is layout-invariant and is not rewritten. */
  def compact(spark: SparkSession, path: String, format: Format,
      table: String, rowsKey: String, key: Manifest => String)(
      rewrite: (DataFrame, String) => Unit): Unit =
    WriterLease.withLease(spark, path) {
      val prior = readLive(spark, path, format, "compacting")
      // only the compacted table is recounted (plus the tombstones)
      requireCommitted(spark, path, prior,
        format.copy(tables = Seq(rowsKey -> table)), "compacting")
      val rows = prior.long(rowsKey)
      val live = spark.read.parquet(s"$path/$table")
      val (survivors, expectRows) = pendingTombstones(spark, path, prior) match {
        case None => (live, rows)
        case Some(tomb) =>
          val id = key(prior)
          val dropped = live.join(tomb, Seq(id), "left_semi").count()
          (live.join(tomb, Seq(id), "left_anti"), rows - dropped)
      }
      val fs = fileSystem(spark, path)
      val staging = s"$path/$table-next"
      fs.delete(new Path(staging), true) // leftover from a crashed compact
      rewrite(survivors, staging)
      require(spark.read.parquet(staging).count() == expectRows,
        s"staged compaction at $staging lost rows — refusing the swap")
      WriterLease.swapStaged(fs, s"$path/$table")
      if (prior.tombRows > 0) {
        fs.delete(tombstonePath(path), true)
        write(spark, path, format,
          prior ++ Seq(rowsKey -> expectRows, "tombRows" -> 0))
      }
    }

  /** Data-file count of a written table — the observable a compaction
    * shrinks. */
  def parquetFileCount(spark: SparkSession, dir: String): Int = {
    val it = fileSystem(spark, dir).listFiles(new Path(dir), true)
    var n = 0
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }
}
