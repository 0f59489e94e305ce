package graft.sources

import graft.cdc.{BinlogFormats, CdcCodec, CdcSchema}
import graft.ops.{IndexFs, IndexLog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MULTI-TABLE shared-scan replication: decode a CDC log ONCE and
  * serve one typed change-frame per table.
  *
  * A catalog user replicating N tables from one log through the
  * per-table `binlogcdc` scans pays N full passes over the log bytes —
  * each scan's table-identity skip makes the N-1 foreign passes cheap
  * CPU-wise, but every pass still reads every log byte (the reference
  * has the same cost shape: one storage-engine handler per table, each
  * `rnd_next` walk reading the whole binlog,
  * /root/reference/binlogdb.cc:477-551). At 100 TB of log, N tables
  * must not cost N × 100 TB of I/O.
  *
  * One-pass fan-out: each log file (the unit of parallelism, as in the
  * batch scan) is decoded by ONE event walk feeding N per-table
  * decoders — control events (TABLE_MAP, GTID) update every decoder's
  * state, row events are decoded exactly once by the owning table's
  * decoder and byte-skipped by the rest. The decoded rows land in a
  * UNION-schema frame `(envelope, __tbl, __t0 … __tN struct)`, written
  * once as the `rows` table of an [[IndexLog]] index at the output
  * root, cell-partitioned by `__tbl`. The commit's params pin the table
  * set and, for [[appendTables]], each log file's high-water offset.
  * Total cost: one log read + one row-data write — instead of N log
  * reads.
  *
  * A per-table frame ([[frames]]) is a read-time projection over one
  * snapshot: pruned to the table's `__tbl` cell (the snapshot's file
  * index lists only that cell's files) and to its own struct column
  * (the other tables' struct columns are all-null in its cell and never
  * read). It carries exactly the `binlogcdc` scan's schema (source
  * columns in binlog order, then the §1.5 envelope), so a consumer can
  * swap a per-table scan for a replica frame verbatim (spec-pinned
  * frame equality).
  */
object CdcFanout {

  /** Decode-pass accounting: one increment per log FILE walked. The
    * one-decode contract ("N tables, one log read") is spec-pinned on
    * this counter — in local mode the executor shares the JVM, so the
    * spec reads it directly. */
  private[graft] val filesDecoded = new java.util.concurrent.atomic.AtomicLong

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  private val Rows = "rows"
  private val OffsetParam = "offset:"

  /** Materialize `tables` (as (database, table) pairs) from the log at
    * `indexFile` into the replica at `outRoot`, decoding the log exactly
    * once over whole files, and return the per-table frames. A commit
    * over an existing replica replaces it. The commit records no log
    * offsets, so [[appendTables]] refuses this root. */
  def materializeTables(spark: SparkSession, indexFile: String,
      tables: Seq[(String, String)], outRoot: String,
      format: String = "gcdc"): Map[(String, String), DataFrame] = {
    val adapter = BinlogFormats.forName(format)
    val targets = resolveTargets(adapter, indexFile, tables)
    val files = CdcCodec.readIndex(indexFile)
    require(files.nonEmpty, s"cdcFanout: empty CDC log index $indexFile")
    val rows = IndexLog.write(decode(spark, format, targets,
      files.map(f => (f, adapter.headerLen, Long.MaxValue))), outRoot, Rows, Some("__tbl"))
    framesOf(IndexLog.commit(spark, outRoot, "fanout", IndexLog.head(spark, outRoot),
      Map(Rows -> rows), Map("tables" -> tableKey(tables))))
  }

  /** The per-table frames of the replica at `outRoot`, all from its head
    * snapshot: rows a later fold commits are not in them. */
  def frames(spark: SparkSession, outRoot: String): Map[(String, String), DataFrame] =
    framesOf(IndexLog.snapshot(spark, outRoot))

  private def framesOf(snap: IndexLog.Snapshot): Map[(String, String), DataFrame] = {
    val rows = snap.frame(Rows)
    org.json4s.jackson.Serialization.read[Seq[Seq[String]]](snap.params("tables"))
      .zipWithIndex.map { case (Seq(db, tbl), i) =>
        val sch = rows.schema(s"__t$i").dataType.asInstanceOf[StructType]
        (db, tbl) -> rows.filter(col("__tbl") === s"$db.$tbl")
          .select(sch.fieldNames.toSeq.map(n => col(s"__t$i").getField(n).as(n)) ++
            CdcSchema.envelope.map(f => col(f.name)): _*)
      }.toMap
  }

  private def tableKey(tables: Seq[(String, String)]): String =
    org.json4s.jackson.Serialization.write(tables.map { case (d, t) => Seq(d, t) })

  private def resolveTargets(adapter: graft.cdc.BinlogFormatAdapter,
      indexFile: String,
      tables: Seq[(String, String)]): Seq[(String, String, StructType)] = {
    require(tables.nonEmpty, "cdcFanout: no tables requested")
    require(tables.distinct.length == tables.length,
      s"cdcFanout: duplicate table in $tables")
    tables.map { case (db, tbl) =>
      val src = adapter.inferSourceSchema(indexFile, db, tbl).getOrElse {
        throw new IllegalArgumentException(
          s"cdcFanout: no TABLE_MAP for $db.$tbl found in CDC log $indexFile")
      }
      (db, tbl, src)
    }
  }

  /** The ONE decode pass: walk each `(path, startPos, endPos)` range
    * once, feeding every event to all N per-table decoders, into the
    * union-schema frame. The range follows the batch scan's rule
    * ([[CdcPartitionReader.rangeEvents]]): row events below `startPos`
    * are skipped without decode (already-consumed prefix — the
    * incremental path), control events always replay, and iteration
    * stops at `endPos` (the torn-tail admission boundary). */
  private def decode(spark: SparkSession, format: String,
      targets: Seq[(String, String, StructType)],
      ranges: Seq[(String, Long, Long)]): DataFrame = {
    val union = StructType(
      CdcSchema.envelope ++
        Seq(StructField("__tbl", StringType, nullable = false)) ++
        targets.zipWithIndex.map { case ((_, _, sch), i) =>
          StructField(s"__t$i", sch, nullable = true)
        })
    val fmt = format
    val serTargets = targets.toArray // (db, table, schema): all serializable
    val nSlots = serTargets.length
    val rdd = spark.sparkContext
      .parallelize(ranges, ranges.length)
      .mapPartitions { rangeIt =>
        rangeIt.flatMap { case (path, startPos, endPos) =>
          filesDecoded.incrementAndGet()
          val ad = BinlogFormats.forName(fmt)
          val decs = serTargets.map { case (db, tbl, sch) =>
            ad.decoder(db, tbl, _ => true, expectedSchema = Some(sch))
          }
          val tblKeys = serTargets.map { case (db, tbl, _) =>
            UTF8String.fromString(s"$db.$tbl")
          }
          val src = ad.open(path)
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => src.close()))
          CdcPartitionReader.rangeEvents(ad, src, startPos, endPos).flatMap { ev =>
            var out = List.empty[InternalRow]
            var i = nSlots - 1
            while (i >= 0) {
              // ONE walk: control events update every decoder's state;
              // a row event decodes once (owner), byte-skips elsewhere
              decs(i).decode(ev).foreach { r =>
                val vals = new Array[Any](5 + nSlots)
                vals(0) = r.op
                vals(1) = r.gtid
                vals(2) = r.tmMicros
                vals(3) = r.sourceId
                vals(4) = tblKeys(i)
                vals(5 + i) = new GenericInternalRow(r.values)
                out ::= new GenericInternalRow(vals)
              }
              i -= 1
            }
            out
          }
        }
      }
    Bridge.internalCreateDataFrame(spark, rdd, union)
  }

  /** INCREMENTAL fan-out — the replication loop's per-run shape: decode
    * only the log bytes PAST the committed high-water offsets (one walk
    * feeding all N tables, exactly [[materializeTables]]' contract),
    * write them once and commit them with the advanced offsets in one
    * [[IndexLog]] commit; returns the per-table frames of that commit.
    * A crash anywhere before the commit leaves files no commit lists:
    * readers stay on the previous fold for every table, and the retry
    * redoes the fold from the committed offsets. Growing tail files
    * resume from their consumed prefix (control events replay for
    * TABLE_MAP state, row events below the high-water byte-skip — the
    * batch scan's range semantics); `lastCompleteOffset` bounds the walk
    * so a producer's in-flight append is never torn.
    *
    * The table SET is pinned in the commit: an increment with a
    * different set refuses loud (a late-added table would silently miss
    * its history — rebuild with [[materializeTables]] instead), and so
    * does a root [[materializeTables]] built (it records no offsets). */
  def appendTables(spark: SparkSession, indexFile: String,
      tables: Seq[(String, String)], outRoot: String,
      format: String = "gcdc"): Map[(String, String), DataFrame] =
    framesOf(fold(spark, indexFile, tables, outRoot, format))

  /** One [[appendTables]] increment; returns the head after it (the
    * same version when nothing grew). */
  private def fold(spark: SparkSession, indexFile: String,
      tables: Seq[(String, String)], outRoot: String,
      format: String): IndexLog.Snapshot = {
    val adapter = BinlogFormats.forName(format)
    val targets = resolveTargets(adapter, indexFile, tables)
    val head = IndexLog.head(spark, outRoot)
    val key = tableKey(tables)
    val committed = head.fold(Map.empty[String, Long])(_.params.collect {
      case (k, v) if k.startsWith(OffsetParam) => k.stripPrefix(OffsetParam) -> v.toLong
    })
    head.foreach { h =>
      // every fold commits an offset for each range it decoded; a
      // materialize commit records none
      require(committed.nonEmpty,
        s"cdcFanout.appendTables($outRoot): materializeTables built this " +
          "root and recorded no log offsets — an increment would re-decode " +
          "the whole log into it as duplicates; append to a root " +
          "appendTables built")
      require(h.params("tables") == key,
        s"cdcFanout.appendTables($outRoot): table set changed " +
          s"(committed '${h.params("tables")}', requested '$key') — a " +
          "late-added table would miss its history; rebuild with " +
          "materializeTables")
    }
    val ranges = CdcCodec.readIndex(indexFile).flatMap { f =>
      val start = committed.getOrElse(f, adapter.headerLen)
      // length fast-path: a consumed file that has not GROWN is skipped
      // without the O(file) lastCompleteOffset event walk — otherwise
      // every increment would re-walk the whole log's history for
      // boundary metadata, the exact growth this op exists to avoid
      // (a complete file's last-complete offset IS its length)
      if (committed.contains(f) && graft.cdc.LogFs.lenOrZero(f) == start) None
      else {
        val end = adapter.lastCompleteOffset(f)
        if (end > start) Some((f, start, end)) else None
      }
    }
    head match {
      case Some(h) if ranges.isEmpty => h // nothing new; offsets unchanged
      case _ =>
        val rows = IndexLog.write(decode(spark, format, targets, ranges),
          outRoot, Rows, Some("__tbl"))
        val offsets = committed ++ ranges.map { case (f, _, e) => f -> e }
        val next = IndexLog.commit(spark, outRoot, "fanout", head,
          Map(Rows -> head.fold(rows)(_.table(Rows) ++ rows)),
          offsets.map { case (f, p) => s"$OffsetParam$f" -> p.toString } +
            ("tables" -> key))
        // a fold drops no file, so the commit deletes no older commit
        // file; keep the one below the new head (a reader that listed
        // `_log` just before this commit still finds it) and delete the
        // rest, so `_log` stays two commits long however many folds run
        IndexLog.deleteCommitsBefore(IndexFs.fs(spark, outRoot),
          outRoot, next.version - 1)
        next
    }
  }

  /** CONTINUOUS multi-table replication — the reference's daemon loop
    * re-expressed over [[appendTables]]: poll the log, fold any new
    * bytes into the replica (one decode feeding all N tables), sleep,
    * repeat. Stops after `maxIdlePolls` consecutive no-growth polls;
    * `maxIdlePolls <= 0` runs until the thread is interrupted (the
    * production shape — tests bound it). Killing the daemon anywhere is
    * safe because each iteration IS an [[appendTables]] fold: nothing is
    * visible until its commit, so the next start redoes the interrupted
    * fold from the committed offsets, after one [[IndexLog.gc]] deletes
    * the files the interrupted attempt left. Growth is detected by a
    * change of the head version, so a poll that decodes nothing costs
    * one head read plus the per-file length fast-path — O(#files)
    * metadata, no log bytes.
    *
    * Returns the number of increments applied. */
  def tailTables(spark: SparkSession, indexFile: String,
      tables: Seq[(String, String)], outRoot: String,
      format: String = "gcdc", pollIntervalMs: Long = 1000,
      maxIdlePolls: Int = 3): Int = {
    IndexLog.gc(spark, outRoot)
    var version = IndexLog.head(spark, outRoot).map(_.version)
    var idle = 0
    var applied = 0
    while (maxIdlePolls <= 0 || idle < maxIdlePolls) {
      val v = Some(fold(spark, indexFile, tables, outRoot, format).version)
      if (v == version) {
        idle += 1
        if (maxIdlePolls <= 0 || idle < maxIdlePolls)
          Thread.sleep(pollIntervalMs)
      } else {
        version = v
        idle = 0
        applied += 1
      }
    }
    applied
  }
}
