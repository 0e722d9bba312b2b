package graft.streaming

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `tail -f` as a Structured Streaming source — the literal S1/S2 parity
  * path (reference: core/sensor.go:51 open+seek loop, :60-68 truncation
  * reset, :71 byte-offset resume).
  *
  * The directory file-stream source in [[Ingest]] discovers new FILES;
  * bytes appended to an already-read file are never re-scanned. This
  * source closes that gap: its streaming Offset is a per-file map of
  * LINE-ALIGNED byte offsets, so
  *  - appends to a watched file are picked up from the recorded offset
  *    (S1 intra-file tailing),
  *  - a file whose length shrinks below its recorded offset is re-read
  *    from byte 0 (S2 rotation/truncation reset — the reference's own
  *    size heuristic), AND a first-KB content fingerprint per file
  *    catches the case the size heuristic cannot: a rotation that
  *    recreates the file at the SAME OR LARGER size (the reference
  *    silently misses that one, core/sensor.go:60-68 — this is a strict
  *    upgrade). Each reset bumps a per-file generation counter stored
  *    in the Offset, so replayed (start, end] ranges reproduce the
  *    reset decision deterministically from the WAL alone,
  *  - offsets live in the checkpoint WAL, so a restart resumes without
  *    re-ingesting (S3/S4), and replaying a committed (start, end]
  *    range re-reads exactly the same byte slices — exactly-once into
  *    idempotent sinks (ST6).
  *
  * Offsets only ever sit at '\n' boundaries: `latestOffset` scans the
  * appended region for the LAST newline and stops there, so a half
  * written line (the reference's bufio partial-read case) stays out of
  * the batch until its terminator lands.
  *
  * Scale contract: this is a TAIL source — a handful of live log files
  * per node, kilobytes per trigger — not a bulk loader. The driver
  * reads each appended region once to find line boundaries (exactly
  * the bytes a single tailing process would read). A file's batch range
  * of up to 64 KiB is one slice; a larger one (a backlog, a burst) is
  * cut into one line-aligned slice per 64 KiB, at most one per core
  * ([[graft.T.widthFor]], the `T.par` rule), so the batch is one
  * parallel stage. Executors read their `[start, end)` slices via
  * positioned reads. A batch is capped at 2 GiB per file (a growing
  * file beyond that should be rotated or bulk-loaded; the require names
  * the limit). For bulk directory ingest at scale, use the directory
  * source in [[Ingest]].
  *
  * Usage: `spark.readStream.format("tail-file").load(path)` where path
  * is a file, directory, or glob (directories list their direct files).
  */
class TailFileSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tail-file"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TailFileSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TailTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "tail-file source requires a path: .load(<file|dir|glob>)")))
}

object TailFileSource {
  val Schema: StructType = StructType(Seq(StructField("value", StringType)))
}

class TailTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"tail-file($path)"
  override def schema(): StructType = TailFileSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = TailFileSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TailMicroBatchStream(path)
        override def description(): String = s"tail-file($path)"
      }
    }
}

/** Per-file tail state carried in the streaming Offset:
  *  - `off`: line-aligned byte offset (just past the last '\n'),
  *  - `gen`: rotation generation — bumped once per detected reset
  *    (size-shrink OR fingerprint mismatch); [[TailMicroBatchStream
  *    .planInputPartitions]] reads from byte 0 iff start.gen != end.gen,
  *    so the reset decision is deterministic from the WAL on replay,
  *  - `fp`: `"<len>:<md5hex>"` over the file's first `len` (≤ 1024)
  *    bytes — the content identity that catches same-or-larger-size
  *    rotations. Empty for offsets written by the pre-fingerprint
  *    format. */
case class TailFileState(off: Long, gen: Long, fp: String)

/** Per-file line-aligned tail states. JSON shape:
  * `{"files":{"<path>":{"off":N,"gen":G,"fp":"len:hex"},...}}` via
  * json4s (the engine treats it as opaque text in the offset log).
  * The pre-fingerprint shape `{"files":{"<path>":<offset>}}` still
  * parses (gen 0, empty fp), so existing checkpoints resume cleanly. */
case class TailOffset(files: Map[String, TailFileState]) extends Offset {
  import org.json4s._
  import org.json4s.jackson.JsonMethods._
  override def json(): String =
    compact(render(JObject("files" -> JObject(
      files.toSeq.sortBy(_._1).map { case (p, st) =>
        p -> JObject("off" -> JLong(st.off), "gen" -> JLong(st.gen),
          "fp" -> JString(st.fp))
      }.toList))))
}

object TailOffset {
  import org.json4s._
  import org.json4s.jackson.JsonMethods._
  def fromJson(s: String): TailOffset = {
    val files = (parse(s) \ "files") match {
      case JObject(fields) => fields.map {
        // pre-fingerprint format: bare byte offset
        case (k, JInt(v)) => k -> TailFileState(v.toLong, 0L, "")
        case (k, JLong(v)) => k -> TailFileState(v, 0L, "")
        case (k, o: JObject) =>
          val off = (o \ "off") match {
            case JInt(v) => v.toLong
            case JLong(v) => v
            case other => throw new IllegalArgumentException(
              s"bad tail offset 'off' for $k: $other")
          }
          val gen = (o \ "gen") match {
            case JInt(v) => v.toLong
            case JLong(v) => v
            case _ => 0L
          }
          val fp = (o \ "fp") match {
            case JString(v) => v
            case _ => ""
          }
          k -> TailFileState(off, gen, fp)
        case (k, other) => throw new IllegalArgumentException(
          s"bad tail offset for $k: $other")
      }.toMap
      case _ => Map.empty[String, TailFileState]
    }
    TailOffset(files)
  }
}

class TailMicroBatchStream(pathSpec: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  @transient private lazy val fs =
    new Path(pathSpec).getFileSystem(new org.apache.hadoop.conf.Configuration())

  /** Driver-side cache of each file's last known state. Mostly an
    * optimization (bounds the newline scan to the appended region), but
    * the rotation GENERATION must survive a restart — otherwise a fresh
    * stream would re-mint gen 0 and a WAL start offset with gen > 0
    * would falsely signal a rotation. [[deserializeOffset]] therefore
    * seeds this cache from the WAL's own offsets (the engine
    * deserializes the restored offsets before computing any new batch),
    * keeping generations and fingerprints continuous across restarts. */
  private var known: Map[String, TailFileState] = Map.empty

  /** Fingerprint the first `min(len, 1024)` bytes: the content identity
    * used to detect a rotation the size heuristic cannot see. One ≤1 KB
    * positioned driver read per watched file per trigger — tail-source
    * economics (a handful of live files), not a bulk-scan cost. */
  private val FpCap = 1024

  /** None on any read failure: the file shrank or vanished between the
    * directory listing and this read (a rotation in flight), OR a
    * transient IO error hit a perfectly live file. The two are
    * indistinguishable here, so callers must treat None as "no decision
    * possible this trigger" — NOT as a content mismatch (ADVICE r11: an
    * unreadable-equals-mismatch reading bumped the generation on a
    * transient error and re-ingested the whole live file from byte 0,
    * i.e. duplicates through the exactly-once sink). The next trigger
    * re-checks the settled state. */
  protected def fingerprint(path: String, n: Int): Option[String] = {
    if (n <= 0) return Some("0:")
    val buf = new Array[Byte](n)
    try {
      val in = fs.open(new Path(path))
      try in.readFully(0L, buf) finally in.close()
    } catch { case _: java.io.IOException => return None }
    val md = java.security.MessageDigest.getInstance("MD5")
    Some(s"$n:${md.digest(buf).map("%02x".format(_)).mkString}")
  }

  private def fpLen(fp: String): Int =
    if (fp.isEmpty) 0 else fp.substring(0, fp.indexOf(':')).toInt

  private def listFiles(): Seq[(String, Long)] = {
    val statuses = Option(fs.globStatus(new Path(pathSpec)))
      .map(_.toSeq).getOrElse(Seq.empty)
      .flatMap(s =>
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
      .filter(_.isFile)
    statuses.map(s => (s.getPath.toString, s.getLen))
  }

  /** Largest line-aligned offset in [from, len): position just past the
    * last '\n', or `from` if the appended region holds no terminator. */
  private def lineAlignedEnd(path: String, from: Long, len: Long): Long = {
    if (len <= from) return from
    // vanished/rotated between the listing and this read: no progress
    // this trigger; the next one sees the settled state (and the
    // fingerprint check resolves what happened).
    val in = try fs.open(new Path(path)) catch {
      case _: java.io.IOException => return from
    }
    try {
      in.seek(from)
      val buf = new Array[Byte](65536)
      var lastNl = -1L
      var pos = from
      var read = in.read(buf)
      while (read > 0 && pos < len) {
        val take = math.min(read.toLong, len - pos).toInt
        var i = 0
        while (i < take) {
          if (buf(i) == '\n') lastNl = pos + i
          i += 1
        }
        pos += take
        read = if (pos < len) in.read(buf) else -1
      }
      if (lastNl >= 0) lastNl + 1 else from
    } finally in.close()
  }

  override def initialOffset(): Offset = TailOffset(Map.empty)

  /** Merge a WAL offset into the driver cache: the entry with the
    * highest rotation generation wins; live state already at that
    * generation is kept (it is the same generation observed later —
    * offset further along, fingerprint possibly extended). */
  private def seedFrom(off: TailOffset): Unit =
    off.files.foreach { case (p, st) =>
      known.get(p) match {
        case Some(cur) if cur.gen >= st.gen => ()
        case _ => known += p -> st
      }
    }

  /** Compute the next offset. `bound` (the Trigger.AvailableNow pin)
    * restricts the drain to the files and LENGTHS that existed at
    * prepare time — reset DETECTION stays live (it must see the WAL
    * baseline, which is only seeded at latestOffset time), but the
    * target is stable across calls so the run terminates. */
  private def computeLatest(bound: Option[Map[String, Long]]): TailOffset = {
    val files = listFiles()
      .filter { case (p, _) => bound.forall(_.contains(p)) }
      .map { case (p, len) =>
        (p, bound.flatMap(_.get(p)).fold(len)(math.min(_, len)))
      }
    val next = files.map { case (p, len) =>
      val prev = known.getOrElse(p, TailFileState(0L, 0L, ""))
      // size below our high-water mark = truncate/rotate: reset (S2)
      val sizeReset = len < prev.off
      // same-or-larger size but the fingerprinted prefix changed (or
      // shrank out from under the fingerprint): a rotation the size
      // heuristic cannot see — reset. Skipped when there is no prior
      // fingerprint (first sight / pre-fingerprint checkpoint).
      // Some(true/false) = prefix checked; None = prefix UNREADABLE this
      // trigger (transient IO error or in-flight rotation) — no reset
      // decision and no progress for this file, exactly like
      // lineAlignedEnd's IOException path; re-checked next trigger.
      val pl = fpLen(prev.fp)
      val contentCheck: Option[Boolean] =
        if (sizeReset || prev.fp.isEmpty) Some(false)
        else if (len < pl) Some(true)
        else fingerprint(p, pl).map(_ != prev.fp)
      contentCheck match {
        case None => p -> prev
        case Some(contentReset) =>
          val reset = sizeReset || contentReset
          val from = if (reset) 0L else prev.off
          val gen = if (reset) prev.gen + 1 else prev.gen
          val end = lineAlignedEnd(p, from, len)
          // Adopt/extend the fingerprint: fresh after a reset or first
          // sight; extended toward the 1 KB cap while the file is still
          // shorter than it (each extension re-reads ≤1 KB, and only
          // happens when the file actually grew). A failed adopt leaves
          // "" (re-fingerprinted next trigger); a failed EXTENSION keeps
          // the previous fingerprint, so rotation detection stays live.
          val fp =
            if (reset || prev.fp.isEmpty)
              fingerprint(p, math.min(len, FpCap.toLong).toInt).getOrElse("")
            else if (pl < FpCap && len > pl)
              fingerprint(p, math.min(len, FpCap.toLong).toInt)
                .getOrElse(prev.fp)
            else prev.fp
          p -> TailFileState(end, gen, fp)
      }
    }.toMap
    known = next
    TailOffset(next)
  }

  override def latestOffset(): Offset = computeLatest(None)

  /** Trigger.AvailableNow support: the PIN taken at query start is the
    * file-list-with-lengths only — NOT the resolved offsets. The engine
    * calls prepareForTriggerAvailableNow BEFORE it deserializes the WAL
    * start offset, so resolving resets here would compare against an
    * empty baseline and silently miss every rotation (fingerprints
    * included). Reset resolution instead happens in
    * latestOffset(start, limit), where the engine hands us the WAL
    * start to seed from; the pinned lengths keep the target stable so
    * the run terminates (concurrent appends belong to the next run). */
  private var availableNowPin: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowPin = Some(listFiles().toMap)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    seedFrom(start.asInstanceOf[TailOffset])
    computeLatest(availableNowPin)
  }

  override def deserializeOffset(json: String): Offset = {
    val off = TailOffset.fromJson(json)
    // Restart continuity: adopt the WAL's generations and fingerprints
    // as they are deserialized, so a fresh stream instance never
    // re-mints gen 0 against a WAL start offset with gen > 0 (which
    // would falsely signal a rotation and re-ingest from byte 0).
    // latestOffset(start, _) seeds again from its argument — belt and
    // braces against engine call-order differences.
    seedFrom(off)
    off
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TailOffset].files
    val e = end.asInstanceOf[TailOffset].files
    e.toSeq.sortBy(_._1).flatMap { case (p, st) =>
      val s0 = s.get(p).map(_.off).getOrElse(0L)
      val endOff = st.off
      // generation bump = a reset (truncation OR fingerprint-detected
      // rotation) happened between the two offsets: the batch re-reads
      // the fresh content from byte 0. end-below-start stays as a
      // fallback for pre-generation checkpoint offsets.
      val rotated = s.get(p).exists(_.gen != st.gen)
      val startOff = if (rotated || endOff < s0) 0L else s0
      if (endOff > startOff) {
        require(endOff - startOff <= Int.MaxValue,
          s"tail-file: $p grew ${endOff - startOff} bytes in one batch; " +
            "cap is 2 GiB — rotate the file or bulk-load the backlog")
        val bounds = startOff +: sliceCuts(p, startOff, endOff) :+ endOff
        bounds.zip(bounds.tail).map { case (a, b) => TailInputPartition(p, a, b) }
      } else Nil
    }.toArray
  }

  /** Inner cuts of one file's line-aligned `[start, end)`: the range is
    * split into `T.widthFor(bytes, defaultParallelism)` slices (one per
    * 64 KiB, at most one per core), each cut placed just past the first
    * '\n' at or after an even target, found with one short positioned
    * read from that target. A cut that reaches `end` (or repeats the
    * previous one, when a line is longer than a slice) is dropped. Every
    * slice therefore stays line-aligned: the cuts are a function of
    * (file, start, end) and the core count, and however a replayed batch
    * is cut it rereads exactly the lines of `[start, end)`. */
  private def sliceCuts(path: String, start: Long, end: Long): Seq[Long] = {
    val n = graft.T.widthFor(BigInt(end - start),
      SparkSession.active.sparkContext.defaultParallelism)
    if (n <= 1) return Nil
    val in = fs.open(new Path(path))
    try {
      val buf = new Array[Byte](4096)
      // position just past the first '\n' in [from, end), or `end`
      def nextLineStart(from: Long): Long = {
        var pos = from
        while (pos < end) {
          val got = in.read(pos, buf, 0, math.min(buf.length.toLong, end - pos).toInt)
          if (got <= 0) return end
          var i = 0
          while (i < got) {
            if (buf(i) == '\n') return pos + i + 1
            i += 1
          }
          pos += got
        }
        end
      }
      (1 until n).map(k => nextLineStart(start + (end - start) * k / n))
        .filter(_ < end).distinct
    } finally in.close()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TailReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class TailInputPartition(path: String, start: Long, end: Long)
  extends InputPartition

class TailReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val tp = p.asInstanceOf[TailInputPartition]
    new PartitionReader[InternalRow] {
      private val fs = new Path(tp.path)
        .getFileSystem(new org.apache.hadoop.conf.Configuration())
      private val bytes = {
        val buf = new Array[Byte]((tp.end - tp.start).toInt)
        val in = fs.open(new Path(tp.path))
        try in.readFully(tp.start, buf) finally in.close()
        buf
      }
      private var cursor = 0
      private var line: UTF8String = _

      // The slice is line-aligned by construction (both offsets sit just
      // past a '\n'), so every emitted line is complete; like the text
      // source, empty lines yield empty rows, and a trailing '\r' is
      // stripped for CRLF logs.
      override def next(): Boolean = {
        if (cursor >= bytes.length) return false
        var nl = cursor
        while (nl < bytes.length && bytes(nl) != '\n') nl += 1
        val endIdx = if (nl > cursor && bytes(nl - 1) == '\r') nl - 1 else nl
        line = UTF8String.fromBytes(bytes, cursor, endIdx - cursor)
        cursor = nl + 1
        true
      }

      override def get(): InternalRow = new GenericInternalRow(Array[Any](line))
      override def close(): Unit = ()
    }
  }
}
