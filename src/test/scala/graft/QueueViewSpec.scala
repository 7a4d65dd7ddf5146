package graft

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.FileTime

import graft.sources.mq.FileMQTransport
import org.scalatest.funsuite.AnyFunSuite

/** The JVM-shared, incremental view behind [[FileMQTransport]]: after
  * every append it must equal a from-scratch decode of the file, in
  * every charset the fake supports; rewrites must re-read from byte 0;
  * and the view cache must stay within its cap. */
class QueueViewSpec extends AnyFunSuite {

  private def queue(dir: Path): Path = dir.resolve("queue.jsonl")

  /** What a whole-file decode sees: complete lines only. */
  private def fromScratch(dir: Path, cs: Charset): Seq[String] =
    if (!Files.exists(queue(dir))) Nil
    else new String(Files.readAllBytes(queue(dir)), cs)
      .stripPrefix("\uFEFF")
      .split("\n", -1).dropRight(1).toSeq
      .map(_.stripSuffix("\r")).filter(_.nonEmpty)

  private def viewed(t: FileMQTransport): Seq[String] =
    t.read(0L, t.depth()).map(r => s"${r.putMillis}\t${r.payload}").toSeq

  private def append(dir: Path, bytes: Array[Byte]): Unit =
    Files.write(queue(dir), bytes, StandardOpenOption.CREATE,
      StandardOpenOption.APPEND)

  // (transport charset, working charset, payload alphabet): UTF-16 puts
  // 0x0A inside characters (U+010A is 01 0A, U+0A0A is 0A 0A), IBM037
  // encodes the newline as 0x25
  private val cases = Seq(
    ("UTF-8", StandardCharsets.UTF_8, StandardCharsets.UTF_8,
      "abc xyz 019éü€Ċ😀"),
    ("UTF-16", StandardCharsets.UTF_16, StandardCharsets.UTF_16BE,
      "abc xyz 019éĊਊ਀😀"),
    ("IBM037", Charset.forName("IBM037"), Charset.forName("IBM037"),
      "abc xyz 019éü¢%"))

  for ((name, charset, working, alphabet) <- cases)
    test(s"property: after every put the view equals a from-scratch decode ($name)") {
      val rnd = new scala.util.Random(7L)
      val dir = Files.createTempDirectory(s"mq-view-$name")
      var clock = 1000L
      val t = new FileMQTransport(dir.toString, charset, () => clock)
      def payload(): String = {
        // one payload in eight is over 8 KiB, which a put writes in
        // several write() calls
        val n = if (rnd.nextInt(8) == 0) 9000 + rnd.nextInt(8000)
                else 1 + rnd.nextInt(40)
        val s = Iterator.continually(alphabet.codePointAt(
          alphabet.offsetByCodePoints(0, rnd.nextInt(
            alphabet.codePointCount(0, alphabet.length)))))
          .take(n).map(cp => new String(Character.toChars(cp))).mkString
        if (s.trim.isEmpty) "x" else s
      }
      assert(viewed(t).isEmpty)
      val view = FileMQTransport.view(queue(dir), working)
      val reloads = view.reloads
      (1 to 60).foreach { i =>
        clock += rnd.nextInt(3)
        if (rnd.nextInt(5) == 0) {
          // an external producer's torn append: the bytes of a whole
          // line, landed in two writes cut at an arbitrary byte
          val bytes = s"$clock\t${payload()}\n".getBytes(working)
          val cut = 1 + rnd.nextInt(bytes.length - 1)
          append(dir, bytes.take(cut))
          assert(viewed(t) == fromScratch(dir, working), s"torn put $i")
          append(dir, bytes.drop(cut))
        } else {
          t.put(s"txn$i", Seq.fill(1 + rnd.nextInt(4))(payload()))
        }
        assert(viewed(t) == fromScratch(dir, working), s"after put $i")
      }
      assert(viewed(new FileMQTransport(dir.toString, charset)) ==
        fromScratch(dir, working), "a fresh handle shares the view")
      assert(view.reloads == reloads,
        "appends must be decoded incrementally, never from byte 0")
    }

  private def lines(ls: String*): Array[Byte] =
    ls.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8)

  test("an inode swap, a truncation, a same-size mtime bump and an " +
    "in-place growing rewrite each re-read from byte 0") {
    val dir = Files.createTempDirectory("mq-view-rewrite")
    val file = queue(dir)
    val t = new FileMQTransport(dir.toString)
    val view = FileMQTransport.view(file, StandardCharsets.UTF_8)
    def check(expect: Seq[String], reloadsBefore: Long, what: String): Unit = {
      assert(viewed(t) == expect, what)
      assert(fromScratch(dir, StandardCharsets.UTF_8) == expect, what)
      assert(view.reloads == reloadsBefore + 1, s"$what: no re-read")
    }
    Files.write(file, lines("1\taaa", "2\tbbb"))
    assert(viewed(t) == Seq("1\taaa", "2\tbbb"))

    // write-temp-then-rename: same size, same mtime, new inode
    var r = view.reloads
    val mtime = Files.getLastModifiedTime(file)
    val tmp = dir.resolve("queue.tmp")
    Files.write(tmp, lines("1\tAAA", "2\tBBB"))
    Files.setLastModifiedTime(tmp, mtime)
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    check(Seq("1\tAAA", "2\tBBB"), r, "inode swap")

    // truncation
    r = view.reloads
    Files.write(file, lines("3\tc"))
    check(Seq("3\tc"), r, "truncation")

    // same inode, same size, mtime moved forward
    r = view.reloads
    def overwrite(bytes: Array[Byte]): Unit = {
      val ch = FileChannel.open(file, StandardOpenOption.WRITE)
      try ch.write(ByteBuffer.wrap(bytes), 0L) finally ch.close()
    }
    val before = Files.getLastModifiedTime(file).toMillis
    overwrite(lines("4\td"))
    Files.setLastModifiedTime(file, FileTime.fromMillis(before + 2000L))
    check(Seq("4\td"), r, "same-size mtime bump")

    // same inode, the last consumed line rewritten and the file grown:
    // the prefix check catches it
    r = view.reloads
    overwrite(lines("5\te", "6\tf"))
    check(Seq("5\te", "6\tf"), r, "in-place growing rewrite")

    // and a plain append after all that is incremental again
    r = view.reloads
    append(dir, lines("7\tg"))
    assert(viewed(t) == Seq("5\te", "6\tf", "7\tg"))
    assert(view.reloads == r)
  }

  test("opening 100 temp queues keeps the view cache within its cap") {
    val dirs = (1 to 100).map { i =>
      val d = Files.createTempDirectory("mq-view-cap")
      Files.write(queue(d), lines(s"$i\tm$i"))
      val t = new FileMQTransport(d.toString)
      assert(t.depth() == 1L)
      assert(FileMQTransport.cachedViews <= FileMQTransport.MaxViews)
      d
    }
    assert(FileMQTransport.cachedViews == FileMQTransport.MaxViews)
    // an evicted queue reads correctly again
    assert(viewed(new FileMQTransport(dirs.head.toString)) == Seq("1\tm1"))
  }
}
