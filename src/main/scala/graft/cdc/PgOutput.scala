package graft.cdc

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Decoder for PostgreSQL's `pgoutput` logical-replication plugin
  * (protocol version 1 — the public wire format from the PostgreSQL
  * documentation, "Logical Streaming Replication Protocol").
  *
  * Reference behavior: `/root/reference/pkg/waljs/pgoutput.go:33-298` —
  * the reference consumes XLogData frames over a replication socket,
  * caches Relation messages by id, tracks the txn commit time from
  * Begin, emits insert/update/delete with the commit timestamp and the
  * current LSN, and recovers unchanged-TOAST columns on UPDATE from the
  * old tuple (REPLICA IDENTITY FULL).
  *
  * Spark shape: the WAL is an ordered byte-message log, so decoding is
  * genuinely imperative per-partition logic — `mapPartitions` with a
  * small stateful parser (relation cache + txn context), the documented
  * last-resort tier. Each partition must hold a contiguous ordered
  * slice of one slot's stream (true for a single-slot source, which is
  * what logical replication gives you). Everything downstream of the
  * decoder (typing, filtering, merge) stays declarative.
  */
object PgOutput {

  /** Microseconds between the Unix epoch and the PostgreSQL epoch
    * (2000-01-01T00:00:00Z) — pgoutput timestamps use the latter. */
  val PgEpochMicros: Long = 946684800000000L

  final case class RelColumn(flags: Int, name: String, typeOid: Int, typmod: Int)
  final case class Relation(id: Int, namespace: String, name: String,
                            replicaIdentity: Char, columns: Seq[RelColumn])

  /** One decoded change. `data` holds text-format column values (null
    * for SQL NULL), exactly what the plugin sends; typing is applied
    * downstream via OID-driven casts. */
  final case class Change(kind: String, namespace: String, table: String,
                          lsn: Long, commitTsMicros: Long,
                          names: Seq[String], values: Seq[String],
                          typeOids: Seq[Int])

  /** A malformed message: decoding failed at byte `offset` of it. */
  final case class DecodeError(offset: Int, reason: String)
      extends RuntimeException(s"pgoutput: $reason at byte $offset")

  // ---- byte-level parsing ------------------------------------------------

  /** Run `parse` over `b`, reporting a read past its end as a
    * [[DecodeError]] at the position it stopped. */
  private def guarded[T](b: ByteBuffer)(parse: => T): T =
    try parse
    catch { case _: java.nio.BufferUnderflowException =>
      throw DecodeError(b.position(), s"truncated after ${b.limit()} bytes")
    }

  private def cString(b: ByteBuffer): String = {
    val bytes = new java.io.ByteArrayOutputStream
    var c = b.get()
    while (c != 0) { bytes.write(c.toInt); c = b.get() }
    new String(bytes.toByteArray, StandardCharsets.UTF_8)
  }

  /** TupleData: Int16 ncols; per column a kind byte — 'n' null,
    * 'u' unchanged TOAST, 't' text (Int32 length + bytes). */
  private def tuple(b: ByteBuffer): Array[String] = {
    val n = b.getShort.toInt
    if (n < 0) throw DecodeError(b.position() - 2, s"column count $n")
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      b.get().toChar match {
        case 'n' => out(i) = null
        case 'u' => out(i) = ToastMarker
        case 't' =>
          val len = b.getInt
          if (len < 0 || len > b.remaining())
            throw DecodeError(b.position() - 4,
              s"value length $len with ${b.remaining()} bytes left")
          val bytes = new Array[Byte](len); b.get(bytes)
          out(i) = new String(bytes, StandardCharsets.UTF_8)
        case k => throw DecodeError(b.position() - 1, s"bad tuple kind '$k'")
      }
      i += 1
    }
    out
  }

  /** Sentinel for 'u' (unchanged TOAST) — resolved against the old
    * tuple during UPDATE, mirroring pgoutput.go:157-159. */
  private val ToastMarker = "\u0000__toast__"

  /** Stateful decoder over one ordered stream of pgoutput messages.
    * Mirrors processPgoutputWAL (pgoutput.go:113-141): Relation caches,
    * Begin sets the txn commit time, Commit closes it, I/U/D emit. */
  final class StreamDecoder {
    private val relations = scala.collection.mutable.Map.empty[Int, Relation]
    private var commitTs: Long = 0L

    /** Decode one message; a malformed one raises [[DecodeError]]. */
    def decode(msg: Array[Byte], lsn: Long): Iterator[Change] = {
      val b = ByteBuffer.wrap(msg)
      guarded(b)(b.get().toChar match {
        case 'R' =>
          val id = b.getInt
          val ns = cString(b); val name = cString(b)
          val replIdent = b.get().toChar
          val ncols = b.getShort.toInt
          val cols = (0 until ncols).map { _ =>
            RelColumn(b.get().toInt, cString(b), b.getInt, b.getInt)
          }
          relations(id) = Relation(id, ns, name, replIdent, cols)
          Iterator.empty
        case 'B' =>
          b.getLong // final LSN of the txn
          commitTs = b.getLong + PgEpochMicros
          Iterator.empty
        case 'C' => Iterator.empty
        case 'I' =>
          val rel = relation(b)
          expect(b, "N", "insert must carry a new tuple")
          emit("insert", rel, tuple(b), lsn)
        case 'U' =>
          val rel = relation(b)
          var old: Array[String] = null
          if (expect(b, "KON", "update must carry a new tuple") != 'N') {
            old = tuple(b)
            expect(b, "N", "update must carry a new tuple")
          }
          val nw = tuple(b)
          // Unchanged TOAST columns: take the old value when available
          // (REPLICA IDENTITY FULL), else null — pgoutput.go:152-159.
          val resolved = nw.zipWithIndex.map { case (v, i) =>
            if (v eq ToastMarker)
              if (old != null && i < old.length) old(i) else null
            else v
          }
          emit("update", rel, resolved, lsn)
        case 'D' =>
          val rel = relation(b)
          expect(b, "KO", "delete carries old/key tuple")
          emit("delete", rel, tuple(b), lsn)
        case _ => Iterator.empty // Origin/Type/Truncate: ignored, like the reference
      })
    }

    private def relation(b: ByteBuffer): Relation = {
      val id = b.getInt
      relations.getOrElse(id,
        throw DecodeError(b.position() - 4, s"unknown relation id $id"))
    }

    /** The next byte, which must be one of `allowed`. */
    private def expect(b: ByteBuffer, allowed: String, what: String): Char = {
      val c = b.get().toChar
      if (!allowed.contains(c))
        throw DecodeError(b.position() - 1, s"$what, got '$c'")
      c
    }

    private def emit(kind: String, rel: Relation, vals: Array[String],
                     lsn: Long): Iterator[Change] =
      Iterator.single(Change(kind, rel.namespace, rel.name, lsn, commitTs,
        rel.columns.map(_.name), vals.toSeq.map(v => if (v eq ToastMarker) null else v),
        rel.columns.map(_.typeOid)))
  }

  // ---- XLogData framing --------------------------------------------------

  /** Unwrap a replication CopyData payload: 'w' XLogData(walStart,
    * walEnd, sendTime, body) → (walStart, body); 'k' keepalive → None
    * (the reference only advances its LSN on those — pgoutput.go:93-103). */
  def unframe(frame: Array[Byte]): Option[(Long, Array[Byte])] = {
    val b = ByteBuffer.wrap(frame)
    guarded(b)(b.get().toChar match {
      case 'w' =>
        val walStart = b.getLong; b.getLong; b.getLong
        val body = new Array[Byte](b.remaining()); b.get(body)
        Some((walStart, body))
      case _ => None
    })
  }

  // ---- DataFrame surface -------------------------------------------------

  val changeSchema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("namespace", StringType),
    StructField("table", StringType),
    StructField("lsn", LongType),
    StructField("commit_ts_micros", LongType),
    StructField("names", ArrayType(StringType)),
    StructField("values", ArrayType(StringType)),
    StructField("type_oids", ArrayType(IntegerType))))

  /** Decode a frame log: input must have (`lsnCol`: long ordering the
    * stream within each partition, `msgCol`: binary pgoutput message).
    * Partitions are decoded independently — callers feeding a single
    * replication slot should keep it single-partition or partition by
    * transaction.
    */
  def decode(df: DataFrame, lsnCol: String, msgCol: String): DataFrame = {
    val spark = df.sparkSession
    val enc = Encoders.row(changeSchema)
    val ordered = df.select(col(lsnCol).cast("long"), col(msgCol))
    ordered.mapPartitions { it =>
      val dec = new StreamDecoder
      it.flatMap { r =>
        dec.decode(r.getAs[Array[Byte]](1), r.getLong(0)).map(c =>
          Row(c.kind, c.namespace, c.table, c.lsn, c.commitTsMicros,
            c.names, c.values, c.typeOids))
      }
    }(enc)
  }

  /** Decode raw replication frames (CopyData payloads: 'w' XLogData
    * carrying pgoutput messages, 'k' keepalives — which only advance
    * the position, pgoutput.go:93-103): unframe + decode in one pass,
    * lsn taken from each frame's walStart. */
  def decodeFrames(df: DataFrame, frameCol: String): DataFrame = {
    val enc = Encoders.row(changeSchema)
    df.select(col(frameCol)).mapPartitions { it =>
      val dec = new StreamDecoder
      it.flatMap { r =>
        unframe(r.getAs[Array[Byte]](0)) match {
          case Some((lsn, body)) => dec.decode(body, lsn).map(c =>
            Row(c.kind, c.namespace, c.table, c.lsn, c.commitTsMicros,
              c.names, c.values, c.typeOids))
          case None => Iterator.empty
        }
      }
    }(enc)
  }

  /** Frame a message as XLogData ('w' + walStart/walEnd/sendTime). */
  def frame(walStart: Long, body: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(25 + body.length)
    b.put('w'.toByte).putLong(walStart).putLong(walStart).putLong(0L).put(body)
    b.array()
  }

  /** A keepalive frame ('k' + serverWalEnd/sendTime/replyRequested). */
  def keepalive(serverWalEnd: Long, replyRequested: Boolean = false): Array[Byte] = {
    val b = ByteBuffer.allocate(18)
    b.put('k'.toByte).putLong(serverWalEnd).putLong(0L)
      .put(if (replyRequested) 1.toByte else 0.toByte)
    b.array()
  }

  /** Decoded change → one typed map column `data` (text values keyed by
    * column name) plus CDC metadata, ready for SystemColumns/Merge. */
  def toChangeLog(decoded: DataFrame): DataFrame =
    decoded.select(
      col("kind"), col("namespace"), col("table"), col("lsn"),
      timestamp_micros(col("commit_ts_micros")).as("_cdc_timestamp"),
      map_from_arrays(col("names"), col("values")).as("data"))

  // ---- encoder (test/fixture side) ---------------------------------------
  // Building the binary stream is also how the unit tests prove the
  // decoder: encode(rows) |> decode == rows.

  private def buf(size: Int): ByteBuffer = ByteBuffer.allocate(size)

  private def putCString(b: ByteBuffer, s: String): Unit = {
    b.put(s.getBytes(StandardCharsets.UTF_8)); b.put(0.toByte)
  }

  def encodeRelation(rel: Relation): Array[Byte] = {
    val b = buf(64 + rel.columns.map(_.name.length + 16).sum +
      rel.namespace.length + rel.name.length)
    b.put('R'.toByte); b.putInt(rel.id)
    putCString(b, rel.namespace); putCString(b, rel.name)
    b.put(rel.replicaIdentity.toByte)
    b.putShort(rel.columns.size.toShort)
    rel.columns.foreach { c =>
      b.put(c.flags.toByte); putCString(b, c.name)
      b.putInt(c.typeOid); b.putInt(c.typmod)
    }
    b.flip(); val out = new Array[Byte](b.remaining()); b.get(out); out
  }

  def encodeBegin(commitTsMicrosUnix: Long, xid: Int): Array[Byte] = {
    val b = buf(21)
    b.put('B'.toByte); b.putLong(0L)
    b.putLong(commitTsMicrosUnix - PgEpochMicros); b.putInt(xid)
    b.array()
  }

  def encodeCommit(commitTsMicrosUnix: Long): Array[Byte] = {
    val b = buf(26)
    b.put('C'.toByte); b.put(0.toByte); b.putLong(0L); b.putLong(0L)
    b.putLong(commitTsMicrosUnix - PgEpochMicros)
    b.array()
  }

  private def putTuple(b: ByteBuffer, vals: Seq[String]): Unit = {
    b.putShort(vals.size.toShort)
    vals.foreach {
      case null => b.put('n'.toByte)
      case v =>
        val bytes = v.getBytes(StandardCharsets.UTF_8)
        b.put('t'.toByte); b.putInt(bytes.length); b.put(bytes)
    }
  }

  private def tupleBytes(vals: Seq[String]): Int =
    2 + vals.map(v => if (v == null) 1 else 5 + v.getBytes(StandardCharsets.UTF_8).length).sum

  def encodeInsert(relId: Int, vals: Seq[String]): Array[Byte] = {
    val b = buf(6 + tupleBytes(vals))
    b.put('I'.toByte); b.putInt(relId); b.put('N'.toByte)
    putTuple(b, vals); b.array()
  }

  /** `toastNew` marks new-tuple positions sent as 'u' (unchanged TOAST). */
  def encodeUpdate(relId: Int, oldVals: Option[Seq[String]], newVals: Seq[String],
                   toastNew: Set[Int] = Set.empty): Array[Byte] = {
    val b = buf(7 + oldVals.map(tupleBytes).getOrElse(0) + tupleBytes(newVals))
    b.put('U'.toByte); b.putInt(relId)
    oldVals.foreach { ov => b.put('O'.toByte); putTuple(b, ov) }
    b.put('N'.toByte)
    b.putShort(newVals.size.toShort)
    newVals.zipWithIndex.foreach {
      case (_, i) if toastNew(i) => b.put('u'.toByte)
      case (null, _) => b.put('n'.toByte)
      case (v, _) =>
        val bytes = v.getBytes(StandardCharsets.UTF_8)
        b.put('t'.toByte); b.putInt(bytes.length); b.put(bytes)
    }
    b.flip(); val out = new Array[Byte](b.remaining()); b.get(out); out
  }

  def encodeDelete(relId: Int, oldVals: Seq[String]): Array[Byte] = {
    val b = buf(6 + tupleBytes(oldVals))
    b.put('D'.toByte); b.putInt(relId); b.put('K'.toByte)
    putTuple(b, oldVals); b.array()
  }

  /** Common OIDs → canonical graft types (public pg_catalog values;
    * reference map at pgoutput.go:262-298). Unknown → string, like the
    * reference's json fallback. */
  val oidToType: Map[Int, String] = Map(
    16 -> "boolean", 17 -> "string", 20 -> "integer", 21 -> "integer_small",
    23 -> "integer_small", 25 -> "string", 114 -> "string",
    700 -> "number_small", 701 -> "number", 1043 -> "string",
    1082 -> "timestamp", 1114 -> "timestamp_micro", 1184 -> "timestamp_micro",
    1186 -> "string", 1700 -> "number", 2950 -> "string", 3802 -> "string")
}
