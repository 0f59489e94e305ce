package graft.sources

import graft.cdc.{BinlogFormats, CdcCodec, CdcSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MULTI-TABLE shared-scan materialization: decode a CDC log ONCE and
  * land one typed change-frame per table.
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
  * UNION-schema staging frame `(envelope, __tbl, __t0 … __tN struct)`
  * written as parquet PARTITIONED BY `__tbl`, so the per-table
  * extraction pass is partition-pruned (reads only its own directory)
  * AND column-pruned (its own struct column; the other tables' struct
  * columns are all-null in its partition and never read). Total cost:
  * one log read + one row-data write + one partition/column-pruned
  * re-read per table — instead of N log reads.
  *
  * The per-table frames carry exactly the `binlogcdc` scan's schema
  * (source columns in binlog order, then the §1.5 envelope), so a
  * consumer can swap a per-table scan for a materialized frame
  * verbatim (spec-pinned frame equality).
  */
object CdcFanout {

  /** Decode-pass accounting: one increment per log FILE walked. The
    * one-decode contract ("N tables, one log read") is spec-pinned on
    * this counter — in local mode the executor shares the JVM, so the
    * spec reads it directly. */
  private[graft] val filesDecoded = new java.util.concurrent.atomic.AtomicLong

  /** Test-only failpoint for [[appendTables]]' crash windows (the
    * `IndexLog.crashPoint` idiom). Production never sets it. */
  private[graft] var fanoutCrashPoint: Option[String] = None
  private def maybeCrash(point: String): Unit =
    if (fanoutCrashPoint.contains(point))
      throw new IllegalStateException(s"test crash at $point")

  private def sanitize(s: String): String =
    s.map(c => if (c.isLetterOrDigit || c == '_') c else '_')

  /** Materialize `tables` (as (database, table) pairs) from the log at
    * `indexFile` into `$outRoot/<db>__<table>` parquet frames, decoding
    * the log exactly once. Returns the per-table output paths. The
    * staging frame is left under `$outRoot/shared.decoded` (it IS the
    * one-pass product; callers may delete it after extraction). */
  def materializeTables(spark: SparkSession, indexFile: String,
      tables: Seq[(String, String)], outRoot: String,
      format: String = "gcdc"): Map[(String, String), String] = {
    val adapter = BinlogFormats.forName(format)
    val targets = resolveTargets(adapter, indexFile, tables)
    val files = CdcCodec.readIndex(indexFile)
    require(files.nonEmpty, s"cdcFanout: empty CDC log index $indexFile")

    decodeToStaging(spark, format, targets,
      files.map(f => (f, adapter.headerLen, Long.MaxValue)),
      s"$outRoot/shared.decoded")

    // per-table extraction: partition-pruned (its own __tbl directory)
    // + column-pruned (its own struct column) — no second log decode
    targets.zipWithIndex.map { case ((db, tbl, sch), i) =>
      val dest = s"$outRoot/${sanitize(db)}__${sanitize(tbl)}"
      extractTable(spark, s"$outRoot/shared.decoded", db, tbl, sch, i,
          stagedSchema(targets))
        .write.mode("overwrite").parquet(dest)
      (db, tbl) -> dest
    }.toMap
  }

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

  /** The union staging schema for a target set — also handed to the
    * staging READ explicitly: an increment that decodes ZERO rows for
    * every table (a fold window holding only control events — FDE,
    * TABLE_MAP, GTID — the live tail's steady-state shape between row
    * batches) writes a parquet directory with no data files, and a
    * schema-inferring read of it would fail instead of no-opping. */
  private def stagedSchema(
      targets: Seq[(String, String, StructType)]): StructType =
    StructType(
      CdcSchema.envelope ++
        Seq(StructField("__tbl", StringType, nullable = false)) ++
        targets.zipWithIndex.map { case ((_, _, sch), i) =>
          StructField(s"__t$i", sch, nullable = true)
        })

  /** The ONE decode pass: walk each `(path, startPos, endPos)` range
    * once, feeding every event to all N per-table decoders, and land
    * the union-schema staging frame at `dest`. The range follows the
    * batch scan's rule ([[CdcPartitionReader.rangeEvents]]): row events
    * below `startPos` are skipped without decode (already-consumed
    * prefix — the incremental path), control events always replay, and
    * iteration stops at `endPos` (the torn-tail admission boundary). */
  private def decodeToStaging(spark: SparkSession, format: String,
      targets: Seq[(String, String, StructType)],
      ranges: Seq[(String, Long, Long)], dest: String): Unit = {
    val staged = stagedSchema(targets)
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
    Bridge.internalCreateDataFrame(spark, rdd, staged)
      .write.mode("overwrite").partitionBy("__tbl").parquet(dest)
  }

  /** One table's typed frame out of a staging dataset: partition-pruned
    * to its `__tbl` directory, column-pruned to its own struct,
    * exactly the `binlogcdc` scan's column order. */
  private def extractTable(spark: SparkSession, stagingPath: String,
      db: String, tbl: String, sch: StructType, slot: Int,
      staged: StructType) =
    spark.read.schema(staged).parquet(stagingPath)
      .filter(col("__tbl") === s"$db.$tbl")
      .select(sch.fieldNames.toSeq.map(n =>
        col(s"__t$slot").getField(n).as(n)) ++
        CdcSchema.envelope.map(f => col(f.name)): _*)

  /** INCREMENTAL fan-out — the replication loop's per-run shape: decode
    * only the log bytes PAST the committed high-water offsets (one walk
    * feeding all N tables, exactly [[materializeTables]]' contract) and
    * APPEND the new rows to the per-table frames. Offsets commit LAST
    * (staged `_offsets` + rename), so every crash window replays
    * idempotently: a retry deletes the uncommitted increment's staging
    * and its `seq<n>-` files from the live dirs, then redoes the whole
    * increment from the committed offsets. Growing tail files resume
    * from their consumed prefix (control events replay for TABLE_MAP
    * state, row events below the high-water byte-skip — the batch
    * scan's range semantics); `lastCompleteOffset` bounds the walk so a
    * producer's in-flight append is never torn. Readers during the op
    * may observe a partial suffix of the in-flight increment (the
    * mode("append") semantics every append-shaped index op here has);
    * committed state is always a prefix-consistent replica.
    *
    * The table SET is pinned in the offsets manifest: an increment with
    * a different set refuses loud (a late-added table would silently
    * miss its history — rebuild with [[materializeTables]] instead). */
  def appendTables(spark: SparkSession, indexFile: String,
      tables: Seq[(String, String)], outRoot: String,
      format: String = "gcdc"): Map[(String, String), String] = {
    import graft.ops.IndexFs
    val adapter = BinlogFormats.forName(format)
    val targets = resolveTargets(adapter, indexFile, tables)
    val fs = IndexFs.fs(spark, outRoot)
    val offPath = s"$outRoot/_offsets"
    val tableKey = tables.map { case (d, t) => s"$d.$t" }.mkString(",")
    val (seq, committed) =
      if (!IndexFs.exists(fs, offPath)) (0L, Map.empty[String, Long])
      else {
        val lines = IndexFs.readUtf8(fs, offPath).linesIterator
          .filter(_.nonEmpty).toSeq
        require(lines.head.startsWith("seq "), s"corrupt $offPath")
        require(lines(1) == s"tables $tableKey",
          s"cdcFanout.appendTables($outRoot): table set changed " +
            s"(committed '${lines(1).stripPrefix("tables ")}', requested " +
            s"'$tableKey') — a late-added table would miss its history; " +
            "rebuild with materializeTables")
        (lines.head.stripPrefix("seq ").trim.toLong,
          lines.drop(2).map { l =>
            val i = l.lastIndexOf(' ')
            l.substring(0, i) -> l.substring(i + 1).toLong
          }.toMap)
      }
    val n = seq + 1
    val dests = targets.map { case (db, tbl, _) =>
      (db, tbl) -> s"$outRoot/${sanitize(db)}__${sanitize(tbl)}"
    }.toMap
    // sweep a crashed attempt of THIS increment: its staging and any
    // seq<n>- files that already moved into the live dirs
    val stagingRoot = s"$outRoot/incr.staging"
    IndexFs.delete(fs, stagingRoot)
    dests.values.foreach { d =>
      IndexFs.listNames(fs, d).filter(_.startsWith(s"seq$n-"))
        .foreach(f => IndexFs.delete(fs, s"$d/$f"))
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
    if (ranges.isEmpty) return dests // nothing new; offsets unchanged
    val stagingData = s"$stagingRoot/seq=$n"
    decodeToStaging(spark, format, targets, ranges, stagingData)
    maybeCrash("fanout-after-staging")
    targets.zipWithIndex.foreach { case ((db, tbl, sch), i) =>
      val live = dests((db, tbl))
      val xstg = s"$stagingRoot/extract-$i"
      extractTable(spark, stagingData, db, tbl, sch, i,
          stagedSchema(targets))
        .write.mode("overwrite").parquet(xstg)
      IndexFs.mkdirs(fs, live)
      // atomic per-file renames: a reader never sees a torn part file
      IndexFs.listNames(fs, xstg).filter(_.endsWith(".parquet"))
        .foreach(f => IndexFs.rename(fs, s"$xstg/$f", s"$live/seq$n-$f"))
      maybeCrash(s"fanout-mid-moves-$i")
    }
    maybeCrash("fanout-after-moves")
    // commit: merged high-water offsets, staged then swapped in
    val newOff = committed ++ ranges.map { case (f, _, e) => f -> e }
    val tmp = s"$offPath.tmp"
    IndexFs.writeUtf8(fs, tmp,
      (Seq(s"seq $n", s"tables $tableKey") ++
        newOff.toSeq.sorted.map { case (f, p) => s"$f $p" }).mkString("\n"))
    IndexFs.delete(fs, offPath)
    IndexFs.rename(fs, tmp, offPath)
    IndexFs.delete(fs, stagingRoot)
    dests
  }

  /** CONTINUOUS multi-table replication — the reference's daemon loop
    * re-expressed over [[appendTables]]: poll the log, fold any new
    * bytes into the per-table frames (one decode feeding all N tables),
    * sleep, repeat. Stops after `maxIdlePolls` consecutive no-growth
    * polls; `maxIdlePolls <= 0` runs until the thread is interrupted
    * (the production shape — tests bound it). Killing the daemon
    * anywhere is safe because each iteration IS [[appendTables]]: the
    * offsets manifest commits LAST, so the next start replays the
    * interrupted increment idempotently; readers of the per-table
    * frames never see a torn file (per-file renames). Growth is
    * detected by offsets-manifest change, so a poll that decodes
    * nothing costs one manifest read plus the per-file length
    * fast-path — O(#files) metadata, no log bytes.
    *
    * Returns the number of increments applied. */
  def tailTables(spark: SparkSession, indexFile: String,
      tables: Seq[(String, String)], outRoot: String,
      format: String = "gcdc", pollIntervalMs: Long = 1000,
      maxIdlePolls: Int = 3): Int = {
    import graft.ops.IndexFs
    val fs = IndexFs.fs(spark, outRoot)
    val offPath = s"$outRoot/_offsets"
    def off(): String =
      if (IndexFs.exists(fs, offPath)) IndexFs.readUtf8(fs, offPath) else ""
    var idle = 0
    var applied = 0
    while (maxIdlePolls <= 0 || idle < maxIdlePolls) {
      val before = off()
      appendTables(spark, indexFile, tables, outRoot, format)
      if (off() == before) {
        idle += 1
        if (maxIdlePolls <= 0 || idle < maxIdlePolls)
          Thread.sleep(pollIntervalMs)
      } else {
        idle = 0
        applied += 1
      }
    }
    applied
  }
}
