package graft.sources.mq

import java.nio.{ByteBuffer, CharBuffer}
import java.nio.channels.FileChannel
import java.nio.charset.{Charset, CharsetDecoder, CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardOpenOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import scala.util.control.NonFatal

/** One message as the queue manager hands it over: MQMD put time
  * (millisecond resolution — IBMMQReceiver.java:250), the native
  * per-group sequence number (:251), and the decoded payload (:247-249).
  */
case class MQRecord(putMillis: Long, nativeSeq: Int, payload: String)

/** The transport seam between the Spark source and the queue system.
  *
  * The real `com.ibm.mq.allclient` implementation drops in behind this
  * trait (connection/auth/backoff live inside it — reference A13/A15);
  * tests and offline builds use [[FileMQTransport]]. All methods are
  * positional so the source is REPLAYABLE between checkpointed offsets
  * — the property Structured Streaming needs for exactly-once
  * (SURVEY.md §3.3): `read(start, end)` must return the same messages
  * on every call until `commit(end)` is acknowledged.
  */
trait MQTransport extends Serializable {
  /** CUMULATIVE count of messages ever observed on the queue — the
    * absolute end offset the source's `latestOffset` advances to, NOT
    * the instantaneous browse depth. The distinction bites destructive
    * transports: a real client in keepMessages=false mode removes
    * messages on commit, so a browse-depth implementation would SHRINK
    * past already-committed offsets and stall the stream forever
    * (latestOffset would never exceed the committed position again).
    * Implementations over destructive gets must keep a monotone
    * high-water mark (committed + currently observable). */
  def depth(): Long

  /** Replayable ordered range read of positions [start, end). */
  def read(start: Long, end: Long): Iterator[MQRecord]

  /** Destructive-get acknowledgement up to position `upTo` (exclusive)
    * — the `qmgr.commit()` analogue (IBMMQReceiver.java:357-360). Must
    * be idempotent and monotone. */
  def commit(upTo: Long): Unit

  /** How many consecutive messages immediately before `pos` share the
    * millisecond of the message AT `pos`. Lets a reader resume the
    * reference's per-millisecond counter (A4) mid-stream without
    * cross-batch mutable state. */
  def sameMillisPrefix(pos: Long): Int

  /** MQQA_GET_INHIBITED analogue (IBMMQReceiver.java:232-235). */
  def inhibited: Boolean = false

  /** Write side of the seam: append `payloads` to the queue atomically
    * under transaction id `txnId`; re-applying an already-applied
    * txnId must be a no-op. The real client maps this onto a syncpoint
    * unit of work (PUT*n + a txn-ledger marker, one commit); replays
    * after a failure therefore never double-deliver. Read-only
    * transports may leave this unimplemented.
    */
  def put(txnId: String, payloads: Seq[String]): Unit =
    throw new UnsupportedOperationException("transport is read-only")
}

/** IBM CCSID (coded character set id) → JVM charset. The reference
  * forces `rcvMessage.characterSet` from the `mqccsid` option before
  * reading the payload (IBMMQReceiver.java:242-249); the same decode
  * choice happens here at the transport boundary, where the bytes are.
  * Table covers the CCSIDs MQ deployments actually pin; anything else
  * falls back to the JVM's `CP<ccsid>`/`IBM<ccsid>` aliases.
  */
object MQCcsid {
  def charsetFor(ccsid: Int): Charset = ccsid match {
    case 1208 => StandardCharsets.UTF_8
    case 1200 | 13488 => StandardCharsets.UTF_16 // MQ UCS-2/UTF-16 ids
    case 819 => StandardCharsets.ISO_8859_1
    case 1252 => Charset.forName("windows-1252")
    // JVM names zero-pad to 3 digits: CCSID 37 is charset IBM037
    case 437 | 850 | 37 | 500 | 1047 => Charset.forName(f"IBM$ccsid%03d")
    case other =>
      try Charset.forName(s"CP$other")
      catch {
        case NonFatal(_) =>
          try Charset.forName(s"IBM$other")
          catch {
            case NonFatal(_) => throw new IllegalArgumentException(
              s"mqccsid $other has no JVM charset mapping")
          }
      }
  }
}

/** File-backed fake queue: `<dir>/queue.jsonl`, one message per line as
  * `<putMillis>\t<payload>\n`; appended over time by tests/producers.
  * `<dir>/committed` holds the destructive-get high-water mark (the
  * fake's ack ledger — messages before it are "gone" from the real
  * queue's perspective but kept on disk so replay within a run works,
  * exactly like a transactional browse cursor).
  *
  * `charset` decodes payload BYTES (reference A3: the queue hands over
  * bytes in the queue manager's CCSID, not strings).
  *
  * Only `'\n'`-terminated lines are messages: a producer's large
  * append reaches the file in several `write()` calls, so a reader can
  * see a torn last line, which stays invisible until its newline lands.
  *
  * Every handle on the same file and charset reads through one
  * [[FileMQTransport.QueueView]] shared by the JVM (driver and, in
  * local mode, executor tasks alike), so a fresh handle — each
  * executor task builds one — starts warm, and a trigger costs one
  * `stat` plus the decode of what was appended since the last one,
  * not a parse of the whole queue. See the view for when it re-reads
  * from byte 0.
  */
class FileMQTransport(dir: String,
                      charset: Charset = StandardCharsets.UTF_8,
                      clock: () => Long = () => System.currentTimeMillis())
  extends MQTransport {
  private def queueFile = Paths.get(dir, "queue.jsonl")
  private def committedFile = Paths.get(dir, "committed")

  /** BOM-free working charset: the generic "UTF-16"/"UTF-32" charsets
    * emit a byte-order mark PER ENCODE, so the append-based `put`
    * would inject a BOM mid-file on every transaction after the first
    * — decoding to a stray U+FEFF that breaks `parse`'s `toLong`.
    * Normalizing to the explicit big-endian twin keeps both sides of
    * the fake consistent (the no-BOM decode default is BE too). */
  private val cs: Charset = charset.name() match {
    case "UTF-16" => StandardCharsets.UTF_16BE
    case "UTF-32" => Charset.forName("UTF-32BE")
    case _        => charset
  }

  private def lines(): Vector[String] =
    FileMQTransport.view(queueFile, cs).lines()

  private def parse(line: String): MQRecord = {
    val i = line.indexOf('\t')
    MQRecord(line.substring(0, i).toLong, 1, line.substring(i + 1))
  }

  override def depth(): Long = lines().size.toLong

  override def read(start: Long, end: Long): Iterator[MQRecord] =
    lines().slice(start.toInt, end.toInt).iterator.map(parse)

  override def commit(upTo: Long): Unit = {
    val prev = committed()
    if (upTo > prev) {
      // temp-file + atomic rename (the BatchIdGate pattern): an
      // in-place truncate-then-write would leave an EMPTY record if
      // the process dies between the two, wedging every later ack
      val tmp = Paths.get(dir, "committed.tmp")
      Files.write(tmp, upTo.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, committedFile,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** An unreadable record degrades to 0 — replay-from-start, the
    * at-least-once stance (the source's key dedup absorbs it) — never
    * a NumberFormatException crash loop on every subsequent ack. */
  def committed(): Long =
    if (!Files.exists(committedFile)) 0L
    else {
      val raw = new String(Files.readAllBytes(committedFile),
        StandardCharsets.UTF_8).trim
      try raw.toLong
      catch { case _: NumberFormatException => 0L }
    }

  override def sameMillisPrefix(pos: Long): Int = {
    val ls = lines()
    if (pos <= 0 || pos >= ls.size) 0
    else {
      val ms = parse(ls(pos.toInt)).putMillis
      var n = 0
      var i = pos.toInt - 1
      while (i >= 0 && parse(ls(i)).putMillis == ms) { n += 1; i -= 1 }
      n
    }
  }

  /** MQQA_GET_INHIBITED analogue for the fake: a `<dir>/inhibited`
    * marker file plays the queue attribute the reference polls
    * (IBMMQReceiver.java:232-235) — lets the A10 stall gate be
    * exercised end-to-end offline. */
  override def inhibited: Boolean =
    Files.exists(Paths.get(dir, "inhibited"))

  private def txnsFile = Paths.get(dir, "txns")

  /** Applied-transaction ledger (the fake's syncpoint log). */
  def txnApplied(txnId: String): Boolean =
    Files.exists(txnsFile) &&
      new String(Files.readAllBytes(txnsFile), StandardCharsets.UTF_8)
        .split("\n", -1).contains(txnId)

  /** Idempotent transactional put. Queue lines land before the ledger
    * marker, so a crash between the two replays the txn — at-least-
    * once in the fake's crash window; the real client's syncpoint UOW
    * closes that window (PUTs + marker commit atomically). Payloads
    * are encoded with the transport charset, mirroring the read-side
    * decode (A3).
    */
  override def put(txnId: String, payloads: Seq[String]): Unit =
    FileMQTransport.lock.synchronized {
      require(!txnId.contains("\n"), "txnId must be single-line")
      if (!txnApplied(txnId)) {
        if (payloads.nonEmpty) {
          val now = clock()
          val block = payloads.map { p =>
            require(!p.contains("\n"), "payload must be single-line in " +
              "the file fake (real MQ payloads are arbitrary bytes)")
            s"$now\t$p\n"
          }.mkString
          Files.createDirectories(Paths.get(dir))
          Files.write(queueFile, block.getBytes(cs),
            StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        }
        Files.write(txnsFile, s"$txnId\n".getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
    }
}

object FileMQTransport {
  /** One JVM-wide put lock: the fake's stand-in for the queue
    * manager's serialization of puts. */
  private val lock = new Object

  /** How many queue views the JVM keeps, least recently used first
    * out: a suite that opens hundreds of temporary queues must not pin
    * them all. An evicted queue is re-read from byte 0 on next use. */
  private[graft] val MaxViews = 16

  private val views =
    new java.util.LinkedHashMap[(Path, String), QueueView](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Path, String), QueueView]): Boolean =
        size() > MaxViews
    }

  /** The JVM's view of `file` decoded with `cs`. */
  private[graft] def view(file: Path, cs: Charset): QueueView = {
    val key = (file.toAbsolutePath.normalize, cs.name)
    views.synchronized {
      var v = views.get(key)
      if (v == null) { v = new QueueView(key._1, cs); views.put(key, v) }
      v
    }
  }

  private[graft] def cachedViews: Int = views.synchronized(views.size())

  /** The decoded lines of one queue file, kept current incrementally.
    *
    * Each call `stat`s the file once. Unchanged (size, mtime, fileKey):
    * the cached lines. Grown on the same fileKey: only the new bytes are
    * decoded — through the same decoder, so a character split across
    * two appends decodes whole — and whole lines are appended. Lines
    * are cut on decoded `'\n'` characters, never on raw bytes: UTF-16
    * carries 0x0A inside characters (U+010A is `01 0A`), and EBCDIC
    * encodes the newline as 0x25. Decoded characters after the last
    * newline wait until their line is terminated.
    *
    * Before trusting the cached prefix, the bytes of the last consumed
    * line are read again and compared, so an in-place rewrite that grows
    * the file and touches that line is caught. A shrink, a new fileKey
    * (the write-temp-then-rename rewrite) or a changed mtime at
    * unchanged size re-reads from byte 0. What goes unseen is a
    * same-inode rewrite that either keeps the size inside the
    * filesystem's mtime granularity or grows the file while leaving the
    * last consumed line's bytes in place; appends never do either, and
    * a rewriting writer can rename a new file into place instead.
    */
  private[graft] final class QueueView(file: Path, cs: Charset) {
    // all fields guarded by `this`
    private var size = -1L // -1: nothing read yet, or the file vanished
    private var mtime: FileTime = null
    private var fileKey: AnyRef = null
    private var decoder: CharsetDecoder = null
    private var pos = 0L // bytes handed to the decoder
    private var pending = "" // decoded characters after the last newline
    private var checkStart = 0L // raw bytes [checkStart, pos) = `check`
    private var check = Array.emptyByteArray
    private var decoded = Vector.empty[String]
    private var reloadCount = 0L

    /** Complete lines, `\r\n` tolerated, empty lines skipped. */
    def lines(): Vector[String] = synchronized { refresh(); decoded }

    /** How many times the view dropped what it had read of the file
      * and re-read it from byte 0. */
    private[graft] def reloads: Long = synchronized(reloadCount)

    private def refresh(): Unit = {
      val attrs =
        try Files.readAttributes(file, classOf[BasicFileAttributes])
        catch { case _: NoSuchFileException => null }
      if (attrs == null) {
        if (size >= 0 || decoded.nonEmpty) reset()
        size = -1L
        return
      }
      val sz = attrs.size()
      val mt = attrs.lastModifiedTime()
      val fk = attrs.fileKey()
      if (sz == size && mt == mtime && fk == fileKey) return
      val appended = size >= 0 && fk == fileKey && sz > size
      var readTo = if (appended) decodeFrom(checkStart, sz) else -1L
      if (readTo < 0) {
        if (size >= 0) reloadCount += 1
        reset()
        readTo = decodeFrom(0L, sz)
      }
      // a file that shrank while it was read is re-read next time
      size = if (readTo < sz) -1L else sz
      mtime = mt
      fileKey = fk
    }

    private def reset(): Unit = {
      decoder = cs.newDecoder()
        .onMalformedInput(CodingErrorAction.REPLACE)
        .onUnmappableCharacter(CodingErrorAction.REPLACE)
      pos = 0L
      pending = ""
      checkStart = 0L
      check = Array.emptyByteArray
      decoded = Vector.empty
    }

    /** Reads bytes [from, end), checks that they begin with `check`,
      * and decodes everything past `pos`. Returns where the read ended,
      * or -1 if the check failed. */
    private def decodeFrom(from: Long, end: Long): Long = {
      val buf = ByteBuffer.allocate((end - from).toInt)
      val ch = FileChannel.open(file, StandardOpenOption.READ)
      try {
        while (buf.hasRemaining && ch.read(buf, from + buf.position()) >= 0) ()
      } finally ch.close()
      val n = buf.position()
      val held = (pos - from).toInt
      if (n < held || !java.util.Arrays.equals(buf.array, 0, held,
        check, 0, check.length)) return -1L
      val fromStart = pos == 0L && pending.isEmpty && decoded.isEmpty
      val in = ByteBuffer.wrap(buf.array, held, n - held)
      // a per-call builder: one kept across calls would pin the
      // capacity of the largest read, e.g. a whole queue's first load
      val text = new java.lang.StringBuilder(pending)
      val out = CharBuffer.allocate(8192)
      var more = true
      while (more) {
        more = decoder.decode(in, out, false).isOverflow
        out.flip()
        text.append(out)
        out.clear()
      }
      pos = from + in.position()
      if (fromStart && text.length > 0 && text.charAt(0) == '\uFEFF')
        text.deleteCharAt(0) // an externally written BOM
      val cut = text.lastIndexOf("\n")
      if (cut >= 0) {
        val fresh = Vector.newBuilder[String]
        var lineStart = 0
        var last = 0
        while (lineStart <= cut) {
          val nl = text.indexOf("\n", lineStart)
          val l = text.substring(lineStart,
            if (nl > lineStart && text.charAt(nl - 1) == '\r') nl - 1
            else nl)
          if (l.nonEmpty) fresh += l
          last = lineStart
          lineStart = nl + 1
        }
        // the check window: the last complete line and the held tail
        checkStart = math.max(from,
          pos - text.substring(last).getBytes(cs).length)
        decoded = decoded ++ fresh.result()
      }
      pending = text.substring(cut + 1)
      check = java.util.Arrays.copyOfRange(buf.array,
        (checkStart - from).toInt, (pos - from).toInt)
      from + n
    }
  }
}

/** A13: retry-with-backoff around any transport. The reference reacts
  * to ANY receive-loop Throwable by disconnecting, sleeping a capped
  * backoff, reconnecting, and restarting the loop
  * (IBMMQReceiver.java:154-198, 219-225 — 600 s cap). Here the same
  * policy is a decorator on the transport seam, so it covers the file
  * fake in tests and the real client identically: each operation is
  * retried up to `maxAttempts` with exponential backoff capped at
  * `maxBackoffMs`; a real transport re-establishes its connection
  * inside the retried call (its `read` reconnects if the handle died),
  * which is exactly the reference's disconnect/reconnect cycle.
  *
  * `read` retries per SLICE of `sliceSize` messages, each slice
  * materialized inside its retry scope (a lazy iterator would escape
  * it and fail mid-consumption). Slicing bounds buffering even when
  * admission control is off — `ReadLimit.allAvailable` and the batch
  * scan plan ONE partition spanning the whole queue depth, and
  * buffering a multi-GB backlog in one Vector would OOM the reader.
  * Positional reads are idempotent, so a slice retry never re-emits
  * previously delivered messages.
  *
  * `sleep` is injectable so tests assert the backoff schedule instead
  * of waiting it out.
  */
class RetryingTransport(underlying: MQTransport, maxAttempts: Int,
                        initialBackoffMs: Long, maxBackoffMs: Long,
                        sleep: Long => Unit = Thread.sleep,
                        sliceSize: Long = 10000L)
  extends MQTransport {
  require(maxAttempts >= 1, "maxAttempts must be >= 1")
  require(sliceSize > 0, "sliceSize must be positive")

  private def withRetry[T](f: => T): T = {
    var attempt = 1
    var backoff = initialBackoffMs
    var last: Throwable = null
    while (attempt <= maxAttempts) {
      try return f
      catch {
        case NonFatal(e) =>
          last = e
          if (attempt < maxAttempts) {
            sleep(backoff)
            backoff = math.min(backoff * 2, maxBackoffMs)
          }
          attempt += 1
      }
    }
    throw last
  }

  override def depth(): Long = withRetry(underlying.depth())
  override def read(start: Long, end: Long): Iterator[MQRecord] =
    (start until end by sliceSize).iterator
      .flatMap(s => withRetry(
        underlying.read(s, math.min(s + sliceSize, end)).toVector))
  override def commit(upTo: Long): Unit = withRetry(underlying.commit(upTo))
  override def sameMillisPrefix(pos: Long): Int =
    withRetry(underlying.sameMillisPrefix(pos))
  override def inhibited: Boolean = underlying.inhibited
  // safe to retry blindly: put is idempotent by txnId
  override def put(txnId: String, payloads: Seq[String]): Unit =
    withRetry(underlying.put(txnId, payloads))
}
