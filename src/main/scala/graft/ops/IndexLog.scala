package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}

/** The commit log of a persisted index (the IVF index in [[Similarity]],
  * the semantic-dedup, near-dup and near-dup cluster indexes in
  * [[Dedup]], the multi-table fan-out's replica in
  * [[graft.sources.CdcFanout]]) — the binlog's
  * own shape (an index file enumerating immutable files) applied to
  * graft's indexes.
  *
  *   - Data files are immutable. Each op writes its files into a fresh
  *     directory `$root/<table>/<write id>/[cell=N/]` that no commit
  *     lists, lists exactly that directory, then commits.
  *   - A commit is `$root/_log/<version>.json`, created with
  *     overwrite=false: creating it is the commit point, so a second
  *     writer of the same version fails loud. It holds the FULL state:
  *     every live file of every table (path, `cell`, size, mtime), each
  *     table's schema, the index parameters and the op ids replay
  *     detection keys on.
  *   - A reader takes one [[Snapshot]] of the highest version (one
  *     `_log` listing, one commit read) and builds frames over exactly
  *     the listed files: no directory listing, no per-file stat, no
  *     schema inference. A crash before the commit leaves files no
  *     version lists, so readers never see a half-written op; a torn
  *     commit file (a crash while writing it) reads as not committed and
  *     the next writer of that version replaces it.
  *   - A commit that drops files (compaction, rebuild, a rewritten cell)
  *     deletes them once it has landed, together with the older commit
  *     files — the one window where a reader that took the previous
  *     snapshot can lose its files.
  *   - [[gc]] deletes whatever the head does not list: the files of ops
  *     that crashed before their commit, and the files a commit dropped
  *     but never deleted because it crashed right after committing.
  *
  * No rename anywhere, so the protocol needs only atomic
  * create-if-absent of one small file from its store. The version is
  * the cheap key a cache of index state can be keyed on.
  */
private[graft] object IndexLog {

  /** One live data file: `path` relative to the index root, its `cell`
    * value (as its directory names it) when the table is
    * cell-partitioned. */
  final case class DataFile(path: String, cell: Option[String], size: Long,
      mtime: Long)

  /** One table of a commit: its schema (JSON, partition column
    * included), the partition column of a cell-partitioned layout, and
    * every live file. */
  final case class Table(schema: String, partitionCol: Option[String],
      files: Seq[DataFile]) {
    /** This table with `more`'s files added (an append). */
    def ++(more: Table): Table = copy(files = files ++ more.files)
  }

  final case class Commit(version: Long, tables: Map[String, Table],
      params: Map[String, String], ops: Set[String])

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  /** Test-only failpoint: when set, a writer throws at the named point
    * to simulate a crash. Production code never sets it. */
  @volatile private[graft] var crashPoint: Option[String] = None
  private[graft] def maybeCrash(point: String): Unit =
    if (crashPoint.contains(point))
      throw new IllegalStateException(s"test crash at $point")

  /** One read of an index's head commit; every frame an op builds comes
    * from the same snapshot. */
  final class Snapshot private[IndexLog] (spark: SparkSession,
      val root: String, fs: FileSystem, val commit: Commit) {
    def version: Long = commit.version
    def params: Map[String, String] = commit.params
    def ops: Set[String] = commit.ops
    def tables: Map[String, Table] = commit.tables

    def table(name: String): Table = tables.getOrElse(name,
      throw new IllegalStateException(
        s"index at $root (version $version) has no table '$name'"))

    /** `name` as a DataFrame over exactly its listed files. Its root
      * path is `$root/$name`; a cell-partitioned table prunes by file
      * through each file's `cell`. */
    def frame(name: String): DataFrame = {
      val t = table(name)
      val schema = org.apache.spark.sql.graftbridge.Bridge.asNullable(
        DataType.fromJson(t.schema).asInstanceOf[StructType])
      val (part, data) = schema.partition(f => t.partitionCol.contains(f.name))
      val files = t.files.map { f =>
        (new FileStatus(f.size, false, 1, blockSize, f.mtime, new Path(qroot, f.path)),
          f.cell)
      }
      val location = new SnapshotFileIndex(new Path(qroot, name), files,
        StructType(part))
      spark.baseRelationToDataFrame(HadoopFsRelation(location, StructType(part),
        StructType(data), None, new ParquetFileFormat, Map.empty)(spark))
    }

    /** Commit this state with `tables` added or replaced, `drop` removed
      * and `newOps` recorded; see [[IndexLog.commit]]. */
    def commit(tag: String, tables: Map[String, Table],
        newOps: Set[String] = Set.empty, drop: Set[String] = Set.empty): Snapshot =
      IndexLog.commit(spark, root, tag, Some(this),
        commit.tables -- drop ++ tables, params, ops ++ newOps)

    /** Paths under `$root/$table` this snapshot does not list: each
      * write directory none of whose files it lists, and each unlisted
      * `.parquet` file of the directories it does list. */
    def unlisted(table: String): Seq[String] = {
      val listed = this.table(table).files.map(_.path).toSet
      val liveDirs = listed.map(writeDir)
      IndexFs.listNames(fs, s"$root/$table").flatMap { d =>
        val dir = s"$table/$d"
        if (!liveDirs(dir)) Seq(s"$root/$dir")
        else dataFiles(fs, root, s"$root/$dir").map(_._1).filterNot(listed)
          .map(p => s"$root/$p")
      }
    }

    private lazy val qroot = fs.makeQualified(new Path(root))
    private lazy val blockSize = fs.getDefaultBlockSize(qroot)
  }

  /** The head snapshot, or None when nothing was ever committed. One
    * `_log` listing and one commit read; a torn head (a crash while
    * writing it) is skipped for the version below. */
  def head(spark: SparkSession, root: String): Option[Snapshot] = {
    val fs = IndexFs.fs(spark, root)
    IndexFs.listNames(fs, s"$root/_log").flatMap(versionOf)
      .sorted(Ordering[Long].reverse).iterator
      .flatMap(v => readCommit(fs, logFile(root, v)))
      .nextOption().map(new Snapshot(spark, root, fs, _))
  }

  /** The head snapshot; refuses loud when the index has no commit. */
  def snapshot(spark: SparkSession, root: String): Snapshot =
    head(spark, root).getOrElse(throw new IllegalArgumentException(
      s"index at $root has no committed version (never built, or its " +
        "build crashed before committing) — build it before using it"))

  /** Write `df` into a fresh directory `$root/$table/<write id>/`,
    * partitioned by `partitionCol` when given, and list exactly that
    * directory. No commit lists it yet; a directory that received no
    * data file is removed. */
  def write(df: DataFrame, root: String, table: String,
      partitionCol: Option[String] = None): Table = {
    val dir = s"$root/$table/${java.util.UUID.randomUUID()}"
    val w = df.write.mode("errorifexists")
    partitionCol.fold(w)(w.partitionBy(_)).parquet(dir)
    val fs = IndexFs.fs(df.sparkSession, root)
    val out = dataFiles(fs, root, dir).map { case (path, st) =>
      DataFile(path, partitionCol.map(c => ExternalCatalogUtils.unescapePathName(
          st.getPath.getParent.getName.stripPrefix(s"$c="))),
        st.getLen, st.getModificationTime)
    }.sortBy(_.path)
    if (out.isEmpty) IndexFs.delete(fs, dir)
    Table(df.schema.json, partitionCol, out)
  }

  /** The `.parquet` data files under `dir`, each with its path relative
    * to `root`. */
  private def dataFiles(fs: FileSystem, root: String,
      dir: String): Seq[(String, FileStatus)] = {
    val rootPath = fs.makeQualified(new Path(root)).toUri.getPath.stripSuffix("/")
    val listed = fs.listFiles(new Path(dir), true)
    val files = Seq.newBuilder[(String, FileStatus)]
    while (listed.hasNext) {
      val st = listed.next()
      val name = st.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_"))
        files += (st.getPath.toUri.getPath.stripPrefix(rootPath + "/") -> st)
    }
    files.result()
  }

  /** Delete what the head does not list — every table directory of the
    * root that names none of its tables (a table a commit dropped),
    * [[Snapshot.unlisted]] of each of its tables — and every commit file
    * older than the head. A table directory is one that holds only
    * write directories, so a file or a foreign directory beside the
    * index (a landed log, say) is never touched. Readers and ops only
    * ever read listed files, so this bounds the disk that crashed ops
    * leave behind; correctness never depends on it. Single writer: run
    * it when no op is in flight (an op's files are unlisted until it
    * commits). A root with no commit is left as it is. */
  def gc(spark: SparkSession, root: String): Unit = head(spark, root).foreach { snap =>
    val fs = IndexFs.fs(spark, root)
    fs.listStatus(new Path(root)).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n == "_log" || snap.tables.contains(n))
      .filter(n => IndexFs.listNames(fs, s"$root/$n").forall(isWriteId))
      .foreach(n => IndexFs.delete(fs, s"$root/$n"))
    snap.tables.keys.toSeq.flatMap(snap.unlisted).foreach(IndexFs.delete(fs, _))
    deleteCommitsBefore(fs, root, snap.version)
  }

  /** Commit version `base.version + 1` (1 without a base) holding
    * exactly `tables`, `params` and `ops`. Creating the commit file is
    * the commit point; a writer whose version another writer already
    * committed fails loud (no retry). Failpoints, in order:
    * `<tag>-after-staging` (data written, not committed),
    * `<tag>-mid-commit` (a torn commit file), `<tag>-after-commit`
    * (committed, dropped files not yet deleted). */
  def commit(spark: SparkSession, root: String, tag: String,
      base: Option[Snapshot], tables: Map[String, Table],
      params: Map[String, String] = Map.empty,
      ops: Set[String] = Set.empty): Snapshot = {
    val fs = IndexFs.fs(spark, root)
    val c = Commit(base.fold(1L)(_.version + 1), tables, params, ops)
    val bytes = org.json4s.jackson.Serialization.write(c)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    maybeCrash(s"$tag-after-staging")
    val file = logFile(root, c.version)
    if (IndexFs.exists(fs, file) && readCommit(fs, file).isEmpty)
      IndexFs.delete(fs, file) // a crashed writer's torn commit
    val out =
      try fs.create(new Path(file), false)
      catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new IllegalStateException(s"index at $root: version " +
            s"${c.version} was committed by another writer since this op " +
            "read its snapshot — re-run the op", e)
      }
    try {
      if (crashPoint.contains(s"$tag-mid-commit")) {
        out.write(bytes, 0, bytes.length / 2)
        maybeCrash(s"$tag-mid-commit")
      }
      out.write(bytes)
    } finally out.close()
    maybeCrash(s"$tag-after-commit")
    base.foreach(b => collect(fs, root, b.commit, c))
    new Snapshot(spark, root, fs, c)
  }

  /** Delete what `prev` listed and `next` does not — a whole write
    * directory when none of its files survives — and, when anything was
    * dropped, every commit file older than `next`. */
  private def collect(fs: FileSystem, root: String, prev: Commit,
      next: Commit): Unit = {
    val live = next.tables.values.flatMap(_.files.map(_.path)).toSet
    val dropped = prev.tables.values.flatMap(_.files.map(_.path))
      .filterNot(live).toSeq
    if (dropped.nonEmpty) {
      val liveDirs = live.map(writeDir)
      dropped.groupBy(writeDir).foreach { case (dir, paths) =>
        if (liveDirs(dir)) paths.foreach(p => IndexFs.delete(fs, s"$root/$p"))
        else IndexFs.delete(fs, s"$root/$dir")
      }
      deleteCommitsBefore(fs, root, next.version)
    }
  }

  private[graft] def deleteCommitsBefore(fs: FileSystem, root: String, version: Long): Unit =
    IndexFs.listNames(fs, s"$root/_log").flatMap(versionOf)
      .filter(_ < version)
      .foreach(v => IndexFs.delete(fs, logFile(root, v)))

  /** Whether `name` is a write directory's name ([[write]]'s UUID). */
  private def isWriteId(name: String): Boolean =
    name.length == 36 && scala.util.Try(java.util.UUID.fromString(name)).isSuccess

  /** `<table>/<write id>` of a listed file's relative path. */
  private def writeDir(rel: String): String = rel.split('/').take(2).mkString("/")

  private def logFile(root: String, version: Long): String =
    f"$root/_log/$version%020d.json"

  private def versionOf(name: String): Option[Long] =
    if (name.length == 25 && name.endsWith(".json") && name.take(20).forall(_.isDigit))
      Some(name.take(20).toLong)
    else None

  /** The commit in `file`, or None when it is torn or unreadable. */
  private def readCommit(fs: FileSystem, file: String): Option[Commit] =
    try Some(org.json4s.jackson.Serialization.read[Commit](IndexFs.readUtf8(fs, file)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** A file index over one snapshot's files of one table: listing is
    * the commit's file list, pruned by each file's `cell`. */
  private final class SnapshotFileIndex(root: Path,
      files: Seq[(FileStatus, Option[String])],
      override val partitionSchema: StructType) extends FileIndex {
    override def rootPaths: Seq[Path] = Seq(root)
    override def inputFiles: Array[String] = files.map(_._1.getPath.toString).toArray
    override def sizeInBytes: Long = files.map(_._1.getLen).sum
    override def refresh(): Unit = ()

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (partitionSchema.isEmpty)
        Seq(PartitionDirectory(InternalRow.empty, files.map(_._1).toArray))
      else {
        val cellType = partitionSchema.head.dataType
        val keep = partitionFilters.reduceOption(And).map(f =>
          Predicate.createInterpreted(f.transform {
            case _: AttributeReference => BoundReference(0, cellType, nullable = true)
          }))
        files.groupBy(_._2.get).toSeq.sortBy(_._1).map { case (cell, fs) =>
          val value = Cast(Literal(cell), cellType, Some("UTC")).eval()
          PartitionDirectory(InternalRow(value), fs.map(_._1).toArray)
        }.filter(d => keep.forall(_.eval(d.values)))
      }
  }
}
