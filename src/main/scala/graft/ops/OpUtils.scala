package graft.ops

private[graft] object OpUtils {

  /** Read a source table's parquet dir (`Tables.load`) with its schema
    * cached for the JVM. Every bare `spark.read.parquet(path)`
    * re-derives the schema (directory listing + footer read, and
    * sometimes a one-task Spark job) on the driver — pure metadata
    * latency paid on EVERY query against a path whose schema is fixed.
    * File LISTING stays per-call; only the schema is pinned, keyed by
    * path alone. The persisted indexes do not come here: they read
    * their schema and file list from their commit ([[IndexLog]]). */
  def readParquet(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame = {
    val cached = indexSchemas.get(path)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      indexSchemas.put(path, df.schema)
      df
    }
  }
  private val indexSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Helper-column name absent from `taken` — compared
    * case-INsensitively, because Spark resolves column names
    * case-insensitively by default, so a fixed "__bin" would clobber a
    * caller's "__BIN" even though the strings differ. */
  def freshCol(taken: Iterable[String], base: String): String = {
    val lower = taken.map(_.toLowerCase).toSet
    var n = base
    var i = 0
    while (lower.contains(n.toLowerCase)) { i += 1; n = s"$base$i" }
    n
  }

  /** Parallelism floor for CPU-dense narrow stages (media codec decode,
    * tokenize+shingle). A narrow stage runs only as wide as its input's
    * partition count, regardless of cores: a blob table read from a
    * couple of parquet files decodes 2-wide on a 32-core host — the
    * round-10 quiet-window adjudication measured exactly that (2.0-2.4x
    * on llm19/llm32/llm58 from a 32-file → 2-file layout change, and
    * worse still on a 1-file layout). When the incoming partitioning is
    * narrower than half the session default parallelism, repartition up
    * to the default; otherwise pass through untouched. At 100 TB a scan
    * has thousands of partitions, so the floor is a no-op by
    * construction — it only ever fires on narrow inputs, where the
    * shuffle it inserts is small for the same reason the input is
    * narrow. Decode cost dominates blob-shuffle cost by orders of
    * magnitude whenever the branch triggers. Streaming frames pass
    * through (micro-batch partitioning is the planner's).
    *
    * Width is estimated from the LOGICAL plan's file-scan leaves
    * (Spark's own `FilePartition.maxSplitBytes` formula over the
    * leaves' listed bytes) rather than `df.rdd.getNumPartitions`: the
    * RDD conversion pays a second physical planning of the query and,
    * under AQE on shuffled inputs, can materialize upstream query
    * stages just to COUNT partitions before repartitioning re-executes
    * them. By contract the helper is applied to un-shuffled scan
    * inputs (narrow transforms of a file read); a frame whose leaves
    * are not all file relations passes through untouched. */
  def parallelismFloor(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (target > 1 &&
          fileScanWidth(df).exists(_ < math.max(2, target / 2)))
        df.repartition(target)
      else df
    }
  }

  /** Estimated scan width: for each leaf `HadoopFsRelation`, replay
    * Spark's split-size formula (`FilePartition.maxSplitBytes`) over
    * the file index's listed bytes — openCostInBytes per file, capped
    * at maxPartitionBytes, floored at bytes-per-core — and sum the
    * resulting split counts. Partition-pruning-aware: the optimized
    * plan has filters pushed adjacent to the relations, so conjuncts
    * sitting in the Filter/Project chain directly above a relation
    * that reference ONLY its partition columns are handed to the
    * (already-cached) FileIndex's pruned listing — a scan of one
    * partition out of a thousand is estimated at that one partition's
    * width, not the table's, and still gets the repartition floor.
    * Listing comes from the cached `FileIndex` either way; nothing is
    * planned or executed. None when any leaf is not a file relation
    * (local/in-memory/v2 inputs — out of the helper's contract,
    * caller's frame passes through). */
  private[graft] def fileScanWidth(df: org.apache.spark.sql.DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val maxSplitDefault = conf.filesMaxPartitionBytes
    val cores = math.max(1, spark.sparkContext.defaultParallelism)

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }

    /** (fileCount, dataBytes) of the relation's listing, pruned by the
      * partition-column conjuncts when there are any. Conjuncts qualify
      * by exprId against the RELATION's own partition-column output
      * attributes — a name-only match would let a Project alias
      * shadowing a partition column's name smuggle a data-column
      * predicate into listFiles (which binds by name) and mis-estimate.
      * Any listing failure falls back to the unpruned totals (the
      * pre-pruning estimate — never worse than before). */
    def listedSize(fs: HadoopFsRelation,
        partAttrIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId],
        filters: Seq[Expression]): (Long, Long) = {
      val partFilters = filters.filter(f =>
        f.deterministic && f.references.nonEmpty &&
          f.references.forall(a => partAttrIds.contains(a.exprId)))
      if (partFilters.isEmpty)
        (fs.location.inputFiles.length.toLong, fs.location.sizeInBytes)
      else
        try {
          val files = fs.location.listFiles(partFilters, Nil).flatMap(_.files)
          (files.length.toLong, files.map(_.getLen).sum)
        } catch {
          case scala.util.control.NonFatal(_) =>
            (fs.location.inputFiles.length.toLong, fs.location.sizeInBytes)
        }
    }

    def width(fs: HadoopFsRelation,
        partAttrIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId],
        filters: Seq[Expression]): Long = {
      val (nFiles, dataBytes) = listedSize(fs, partAttrIds, filters)
      val totalBytes = dataBytes + nFiles * openCost
      val bytesPerCore = totalBytes / cores
      val maxSplit = math.min(maxSplitDefault, math.max(openCost, bytesPerCore))
      if (maxSplit <= 0) nFiles
      else (totalBytes + maxSplit - 1) / maxSplit
    }

    def walk(plan: LogicalPlan, filters: Seq[Expression]): Seq[Option[Long]] =
      plan match {
        case Filter(cond, child) => walk(child, filters ++ conjuncts(cond))
        case Project(_, child)   => walk(child, filters)
        case rel @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          val partNames = fs.partitionSchema.fieldNames.toSet
          val partAttrIds = rel.output
            .filter(a => partNames.contains(a.name)).map(_.exprId).toSet
          Seq(Some(width(fs, partAttrIds, filters)))
        case _: LeafNode => Seq(None)
        case other       => other.children.flatMap(walk(_, Nil))
      }

    val widths = walk(df.queryExecution.optimizedPlan, Nil)
    if (widths.nonEmpty && widths.forall(_.isDefined)) Some(widths.flatten.sum)
    else None
  }
}
