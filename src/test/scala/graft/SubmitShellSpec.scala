package graft

import java.io.File
import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

/** `Submit.execute` end to end with shell executables, on a seeded corpus
  * written here: reference-style `wc_map.sh`/`wc_reduce.sh` run through
  * both pipes, the md5 shuffle and `writeExact`, and each `part-NNNNN`'s
  * bytes equal a word count computed in this spec alone (`MessageDigest`
  * md5-mod routing and a plain sort, no engine code).
  */
class SubmitShellSpec extends SparkSpec {

  // The executables of perfbench/gen.py: byte-wise (LC_ALL=C) lowercase of
  // A-Z, split on space, tab and brackets with empty tokens kept, and a
  // `uniq -c` count of each sorted key's run.
  private val wcMap =
    """#!/bin/sh
      |export LC_ALL=C
      |tr '[:upper:]' '[:lower:]' | tr '[ \t]' '\n' | sed 's/$/\t1/'
      |""".stripMargin
  private val wcReduce =
    """#!/bin/sh
      |export LC_ALL=C
      |cut -f1 | uniq -c | sed -E 's/^ *([0-9]+) (.*)$/\2\t\1/; s/^ *([0-9]+)$/\t\1/'
      |""".stripMargin

  private val words = Seq("hello", "World", "HADOOP", "bye", "naïve", "Café", "ÉCOLE",
    "日本語", "テキスト", "🎉", "z🎉", "straße", "a", "ab", "abc", "x1", "Mixed", "mIXED")

  /** Seeded lines: words joined by a space, a tab or two spaces, some in
    * brackets, some indented, and blank or whitespace-only lines. */
  private def corpus(seed: Int, files: Int, lines: Int): Seq[(String, Seq[String])] = {
    val rnd = new scala.util.Random(seed)
    def sep(): String = Seq(" ", " ", " ", "\t", "  ")(rnd.nextInt(5))
    def line(): String = rnd.nextInt(20) match {
      case 0 => ""
      case 1 => Seq(" ", "\t", "  ")(rnd.nextInt(3))
      case _ =>
        val ws = Seq.fill(1 + rnd.nextInt(8)) {
          val w = words(rnd.nextInt(words.size))
          if (rnd.nextInt(10) == 0) s"[$w]" else w
        }
        (if (rnd.nextInt(15) == 0) sep() else "") + ws.reduce(_ + sep() + _)
    }
    Seq.tabulate(files)(f => (f"file$f%02d", Seq.fill(lines)(line())))
  }

  private def script(dir: File, name: String, body: String): String = {
    val f = new File(dir, name)
    Files.write(f.toPath, body.getBytes(UTF_8))
    assert(f.setExecutable(true))
    f.getPath
  }

  private def md5Mod(key: String, r: Int): Int =
    new BigInteger(1, MessageDigest.getInstance("MD5").digest(key.getBytes(UTF_8)))
      .mod(BigInteger.valueOf(r)).intValue

  test("Submit with wc_map.sh/wc_reduce.sh: exact part-file bytes, 3 mappers, 3 reducers") {
    val R = 3
    val root = Files.createTempDirectory("graft-submit-shell").toFile
    val input = new File(root, "input")
    assert(input.mkdir())
    val files = corpus(seed = 17, files = 5, lines = 60)
    files.foreach { case (name, ls) =>
      Files.write(new File(input, name).toPath, ls.map(_ + "\n").mkString.getBytes(UTF_8))
    }
    val output = new File(root, "output").getPath
    Submit.execute(spark, Submit.parse(Array(
      "-i", input.getPath, "-o", output,
      "-m", script(root, "wc_map.sh", wcMap), "-r", script(root, "wc_reduce.sh", wcReduce),
      "--nmappers", "3", "--nreducers", R.toString)))

    val counts = files.flatMap(_._2).flatMap { l =>
      l.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c).split("[ \t\\[\\]]", -1)
    }.groupBy(identity).map { case (w, ws) => w -> ws.size }
    assert(counts.contains("") && counts.contains("naïve") && counts.contains("École"))
    val names = (0 until R).map(p => f"part-$p%05d")
    assert(new File(output).list().sorted.toSeq == names)
    names.zipWithIndex.foreach { case (name, p) =>
      val want = counts.keys.filter(md5Mod(_, R) == p).toSeq.sorted
        .map(k => s"$k\t${counts(k)}\n").mkString.getBytes(UTF_8)
      val got = Files.readAllBytes(new File(output, name).toPath)
      assert(new String(got, UTF_8) == new String(want, UTF_8), s"$name differs")
      assert(got.sameElements(want), s"$name bytes differ")
    }
  }
}
