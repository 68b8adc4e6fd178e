package graft.sources

import java.util

import graft.Verify.jsonEscape
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Custom DataSource V2 WRITE path — the sink half of the DSv2 story
  * (SyntheticEventsSource covers the read ladder): an audited JSONL
  * sink implementing Spark's two-phase commit contract end to end.
  *
  *  - each TASK writes its partition to `path/_temp/part-<p>-<t>.jsonl`
  *    and returns a [[WriterCommitMessage]] carrying (tempFile, rows);
  *  - the DRIVER's `commit` runs only after EVERY task succeeded: it
  *    renames each temp file into place and then writes `_MANIFEST`
  *    (file list + per-file and total row counts) as the LAST step —
  *    readers that require the manifest therefore never observe a
  *    partial write (the rename-then-manifest order is the atomicity);
  *  - `abort` (any task failed / job cancelled) deletes the temp files
  *    so a failed job leaves nothing visible.
  *
  * This is the same speculation-safe protocol every production sink
  * (parquet's FileCommitProtocol, Iceberg/Delta commits) implements:
  * task attempts may run twice, but only files named in COMMITTED
  * messages are renamed, and the manifest is the single publication
  * point (written to `_MANIFEST.tmp` and RENAMED into place, so a
  * gating reader can never open a torn manifest). At 100 TB the commit
  * cost is one metadata pass over task-count messages — no data moves
  * at commit time.
  *
  * Contract: one PUBLICATION per directory, REPLACE on re-run — if a
  * `_MANIFEST` is already present at commit time, the driver
  * UNPUBLISHES first (deletes the manifest, then the parts it listed)
  * before renaming the new job's files and publishing the new
  * manifest. A checkpoint-replayed foreachBatch batch therefore
  * re-publishes its directory cleanly, and a changed partition count
  * can never leave stale high-numbered parts mixed under a fresh
  * manifest — the failure mode of blind rename-over. Readers that gate
  * on the manifest see the old publication, nothing, or the new one —
  * never a blend. Concurrent jobs on one directory are unsupported
  * (multi-batch producers key a directory per job, the foreachBatch
  * `batch-<id>` recipe in StreamingSpec). Non-finite doubles serialize
  * as JSON `null` (JSON has no NaN/Infinity; a bare NaN token would
  * silently null the WHOLE row on read-back).
  *
  * Usage: `df.write.format("graft.sources.AuditedJsonlSink")
  *   .option("path", dir).mode("append").save()`; read back with
  * `spark.read.schema(s).json(dir + "/part-*.jsonl")`.
  */
class AuditedJsonlSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AuditedJsonlTable(schema, properties.get("path"))
}

class AuditedJsonlTable(writeSchema: StructType, path: String)
    extends Table with SupportsWrite {
  require(path != null && path.nonEmpty, "AuditedJsonlSink requires .option(\"path\", ...)")
  override def name(): String = s"audited_jsonl($path)"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new AuditedJsonlBatchWrite(info.schema(), path)
      }
    }
}

case class JsonlCommitMessage(tempFile: String, finalName: String,
    rows: Long) extends WriterCommitMessage

class AuditedJsonlBatchWrite(schema: StructType, path: String)
    extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new JsonlWriterFactory(schema, path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new java.io.File(path)
    dir.mkdirs()
    val committed = messages.collect { case m: JsonlCommitMessage => m }
    // REPLACE semantics for a previously published directory (the
    // checkpoint-replay path): unpublish FIRST — readers gate on the
    // manifest, so deleting it is the atomic "no publication" state —
    // then remove the old parts so a smaller new job can't leave stale
    // high-numbered files mixed under the fresh manifest.
    val oldManifest = new java.io.File(dir, "_MANIFEST")
    if (oldManifest.exists()) {
      val src = scala.io.Source.fromFile(oldManifest)
      val oldParts = try src.getLines()
        .flatMap(l => "\"file\":\"([^\"]+)\"".r
          .findFirstMatchIn(l).map(_.group(1))).toList
      finally src.close()
      if (!oldManifest.delete())
        throw new java.io.IOException(s"unpublish failed: $oldManifest")
      oldParts.foreach(f => new java.io.File(dir, f).delete())
    }
    committed.foreach { m =>
      val src = new java.io.File(m.tempFile)
      val dst = new java.io.File(dir, m.finalName)
      if (!src.renameTo(dst))
        throw new java.io.IOException(s"commit rename failed: ${m.tempFile}")
    }
    // manifest LAST, via temp + rename: the single ATOMIC publication
    // point — a gating reader either sees no manifest or a whole one.
    // BufferedWriter (unlike PrintWriter) propagates IOExceptions, so
    // a driver-disk-full commit fails instead of publishing a lie.
    val tmp = new java.io.File(dir, "_MANIFEST.tmp")
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(tmp), java.nio.charset.StandardCharsets.UTF_8))
    try {
      committed.sortBy(_.finalName).foreach(m =>
        w.write(s"""{"file":"${m.finalName}","rows":${m.rows}}""" + "\n"))
      w.write(s"""{"total_rows":${committed.map(_.rows).sum}}""" + "\n")
    } finally w.close()
    if (!tmp.renameTo(new java.io.File(dir, "_MANIFEST")))
      throw new java.io.IOException(s"manifest publish rename failed: $tmp")
    val temp = new java.io.File(dir, "_temp")
    if (temp.isDirectory && temp.list().isEmpty) temp.delete()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case m: JsonlCommitMessage => new java.io.File(m.tempFile).delete()
      case _ => ()
    }
  }
}

class JsonlWriterFactory(schema: StructType, path: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new JsonlDataWriter(schema, path, partitionId, taskId)
}

/** Task-side writer: rows stream to a temp file; `commit` seals it and
  * hands the driver a rename instruction. Attempt id is in the temp
  * name, so a speculative twin can never collide. BufferedWriter, not
  * PrintWriter: a mid-task IOException (disk full, torn volume) must
  * FAIL the task — PrintWriter swallows write errors, which would let
  * a truncated file commit with a row count the manifest then
  * publishes as truth. */
object JsonlDataWriter {
  /** Fixed 6-digit fraction: constant-width output and unambiguous
    * micros on read-back (DateTimeFormatter is thread-safe). */
  val IsoMicros: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
}

class JsonlDataWriter(schema: StructType, path: String, partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {
  private val tempDir = new java.io.File(path, "_temp")
  tempDir.mkdirs()
  private val finalName = f"part-$partitionId%05d.jsonl"
  private val tempFile = new java.io.File(tempDir,
    s"$finalName.attempt-$taskId")
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(new java.io.FileOutputStream(tempFile),
      java.nio.charset.StandardCharsets.UTF_8))
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val parts = schema.fields.zipWithIndex.map { case (f, i) =>
      val v =
        if (row.isNullAt(i)) "null"
        else f.dataType match {
          case LongType => row.getLong(i).toString
          case IntegerType => row.getInt(i).toString
          case DoubleType =>
            val d = row.getDouble(i)
            // JSON has no NaN/Infinity tokens; a bare NaN would make
            // the read-back parser null the ENTIRE row as corrupt
            if (java.lang.Double.isFinite(d)) d.toString else "null"
          case BooleanType => row.getBoolean(i).toString
          case StringType => "\"" + jsonEscape(row.getUTF8String(i).toString) + "\""
          // ISO-8601 with full micros — Spark's DEFAULT JSON timestamp
          // parser round-trips this losslessly. A bare epoch-micros
          // integer would NOT: the JSON reader interprets a numeric
          // TimestampType cell as epoch SECONDS (read-back 10^6× too
          // large) and nulls a numeric TimestampNTZType row outright
          // (pinned by the round-trip test in SourcesSpec). Instants
          // (TimestampType) carry an explicit `Z`; NTZ wall-clocks
          // carry no zone, matching their zone-free semantics.
          case TimestampType | TimestampNTZType =>
            val micros = row.getLong(i)
            val ldt = java.time.LocalDateTime.ofEpochSecond(
              java.lang.Math.floorDiv(micros, 1000000L),
              java.lang.Math.floorMod(micros, 1000000L).toInt * 1000,
              java.time.ZoneOffset.UTC)
            val zone = if (f.dataType == TimestampType) "Z" else ""
            "\"" + ldt.format(JsonlDataWriter.IsoMicros) + zone + "\""
          case other =>
            throw new UnsupportedOperationException(
              s"AuditedJsonlSink: unsupported type $other for ${f.name}")
        }
      "\"" + jsonEscape(f.name) + "\":" + v
    }
    out.write(parts.mkString("{", ",", "}"))
    out.write("\n")
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    JsonlCommitMessage(tempFile.toString, finalName, rows)
  }

  override def abort(): Unit = {
    // don't let a close-time flush error mask the failure being aborted
    try out.close() catch { case _: java.io.IOException => () }
    tempFile.delete()
  }

  override def close(): Unit =
    try out.close() catch { case _: java.io.IOException => () }
}
