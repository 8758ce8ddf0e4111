package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession for the whole forked test JVM.
  * master = local[4,2]: 4 threads AND maxFailures=2, so the fault-
  * tolerance tests (reference crash-test analogue, SURVEY.md §5) can
  * observe a task retry instead of dying on first failure.
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4,2]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** The reference's own test corpus: 9 Project Gutenberg texts
    * (`/root/reference/inputs/pg-*.txt`), the same inputs test-mr.sh
    * feeds both engines (read-only).
    */
  val GutenbergGlob = "/root/reference/inputs/pg-*.txt"

  /** The engine's text corpus: 9 seeded files in a temp dir (see
    * [[TestCorpus]]), plus copies of the Gutenberg texts when the
    * reference checkout is present.
    */
  lazy val CorpusDir: String =
    TestCorpus.write(java.nio.file.Paths.get(GutenbergGlob).getParent)
  lazy val CorpusGlob: String = s"$CorpusDir/*.txt"
}

/** Seeded generator of a Gutenberg-like corpus for the engine's
  * differential tests. It keeps the properties the Gutenberg set
  * exercised: 9 files from ~300 B to ~600 KB, a near-empty file
  * (a handful of words in a run of punctuation), a Zipf-skewed English
  * vocabulary so "the" dominates, non-ASCII letters (the tokenizer
  * splits on `\p{L}`), digits, apostrophes and punctuation runs, and
  * CRLF line endings in some files.
  */
object TestCorpus {
  import java.nio.charset.StandardCharsets.UTF_8
  import java.nio.file.{Files, Path}

  private val Words = Vector(
    "the", "and", "of", "to", "a", "in", "that", "he", "was", "it", "his",
    "her", "with", "as", "had", "for", "she", "not", "but", "at", "on",
    "you", "is", "which", "be", "by", "him", "all", "this", "have",
    "said", "from", "were", "there", "so", "one", "would", "what", "me",
    "my", "upon", "no", "could", "when", "been", "into", "little",
    "café", "naïve", "über", "señor", "straße", "fjörd", "ørsted",
    "zoë", "élan", "ἀγάπη", "москва", "łódź", "crème", "brûlée")
  private val Punct = Vector(". ", ", ", "; ", "! ", "? ", " -- ", "... ",
    "?! ", "!!! ", "\"", "' ", "'s ", " (", ") ", ": ", "--- ", " 1813, ")

  /** Target sizes in bytes; the first file is the near-empty one. */
  private val Sizes = Seq(300, 2000, 9000, 40000, 90000, 160000, 260000, 420000, 600000)

  private def text(rnd: scala.util.Random, bytes: Int, crlf: Boolean): String = {
    val nl = if (crlf) "\r\n" else "\n"
    val sb = new StringBuilder
    var col = 0
    while (sb.length < bytes) {
      // Zipf-ish: the square of a uniform index skews toward the head
      val u = rnd.nextDouble()
      sb ++= Words((u * u * Words.size).toInt)
      col += 1
      if (rnd.nextInt(6) == 0) sb ++= Punct(rnd.nextInt(Punct.size)) else sb += ' '
      if (col >= 8 + rnd.nextInt(8)) { sb ++= nl; col = 0 }
    }
    sb.toString
  }

  /** Writes the 9 files (and copies of any `pg-*.txt` under `extra`)
    * to a fresh temp dir, deleted on exit, and returns its path.
    */
  def write(extra: Path): String = {
    val rnd = new scala.util.Random(20260117L)
    val dir = Files.createTempDirectory("graft-corpus")
    dir.toFile.deleteOnExit()
    def put(name: String, body: Array[Byte]): Unit = {
      val p = dir.resolve(name)
      Files.write(p, body)
      p.toFile.deleteOnExit()
    }
    put("t0-near-empty.txt",
      (".,;!?-- '...' --\r\n" * 12 + "the end." + " ...!!! " * 8).getBytes(UTF_8))
    Sizes.tail.zipWithIndex.foreach { case (n, i) =>
      put(f"t${i + 1}%d-gen.txt", text(rnd, n, crlf = i % 2 == 0).getBytes(UTF_8))
    }
    if (Files.isDirectory(extra)) {
      val it = Files.list(extra)
      try it.filter(_.getFileName.toString.matches("pg-.*\\.txt"))
        .forEach(p => put(p.getFileName.toString, Files.readAllBytes(p)))
      finally it.close()
    }
    dir.toString
  }
}
