package graft.engine

/** The reference's plugin applications (SURVEY.md §2B), re-expressed as
  * `MrApp`s against the same contract. The framework-probe plugins
  * (mtiming/rtiming/jobcount — P3–P5) probe scheduling, not data; their
  * invariants live in the test suite (parallelism via accumulators,
  * exactly-once attempt counting), not here.
  */
object Apps {

  /** Tokenize on any non-letter rune — `strings.FieldsFunc(contents,
    * !unicode.IsLetter)` (`plugins/wc.go:24-27`): one code-point scan
    * cutting where `Character.isLetter` (which agrees with `\p{L}` and
    * Go's `unicode.IsLetter`) is false; never yields empty tokens.
    */
  def tokenize(contents: String): Seq[String] = {
    val tokens = Vector.newBuilder[String]
    var start = -1 // start of the current token, or -1 between tokens
    var i = 0
    while (i <= contents.length) {
      val cp = if (i < contents.length) contents.codePointAt(i) else ' '
      if (Character.isLetter(cp)) { if (start < 0) start = i }
      else if (start >= 0) { tokens += contents.substring(start, i); start = -1 }
      i += Character.charCount(cp)
    }
    tokens.result()
  }

  /** P1 wc — word count (`plugins/wc.go:22-43`): emit (word,"1") per
    * occurrence; combine and reduce sum the values (over raw "1"s, a count).
    */
  object WordCount extends Combiner {
    def map(file: String, contents: String): Seq[KeyValue] =
      tokenize(contents).map(KeyValue(_, "1"))
    def combine(key: String, values: Seq[String]): String = reduce(key, values)
    def reduce(key: String, values: Seq[String]): String =
      values.foldLeft(0L)(_ + _.toLong).toString
  }

  /** P2 indexer — inverted index (`plugins/indexer.go:22-41`): distinct
    * words per document (first occurrences, in order) → (word, doc);
    * reduce = `"<n> <d1,d2,...>"` with the doc list sorted.
    */
  object Indexer extends MrApp {
    def map(file: String, contents: String): Seq[KeyValue] = {
      val seen = new java.util.HashSet[String]()
      tokenize(contents).filter(seen.add).map(KeyValue(_, file))
    }
    def reduce(key: String, values: Seq[String]): String =
      s"${values.size} ${values.sorted.mkString(",")}"
  }

  /** P6 early_exit data shape (`plugins/early_exit.go:19-36`): one
    * (filename,"1") per file; reduce = count (the 3 s sleep is a
    * finality probe, not data semantics — finality is covered by
    * `Engine.writeText` writing `_SUCCESS` last, asserted in tests).
    */
  object FileCount extends MrApp {
    def map(file: String, contents: String): Seq[KeyValue] =
      Seq(KeyValue(file, "1"))
    def reduce(key: String, values: Seq[String]): String =
      values.size.toString
  }

  /** P7/P8 crash/nocrash data shape (`plugins/nocrash.go:29-50`): four
    * fixed keys per file — (a, filename), (b, len(filename)),
    * (c, len(contents)), (d, "xyzzy") — reduce = sorted space-join.
    * The random crash/stall itself is fault injection, exercised in
    * tests via TaskContext.attemptNumber.
    */
  object CrashData extends MrApp {
    def map(file: String, contents: String): Seq[KeyValue] = Seq(
      KeyValue("a", file),
      KeyValue("b", file.length.toString),
      KeyValue("c", contents.length.toString),
      KeyValue("d", "xyzzy")
    )
    def reduce(key: String, values: Seq[String]): String =
      values.sorted.mkString(" ")
  }

  /** Plugin registry — the primary replacement for the reference's
    * dynamic `.so` loading (`mr_worker.go:26-43`): a static map, since
    * Spark ships closures to executors and needs no dlopen.
    */
  val registry: Map[String, MrApp] = Map(
    "wc" -> WordCount,
    "indexer" -> Indexer,
    "early_exit" -> FileCount,
    "nocrash" -> CrashData
  )

  /** The DYNAMIC load path, for apps compiled outside this registry —
    * the JVM analogue of the reference's `plugin.Open(...).Lookup
    * ("Map"/"Reduce")` (`mr_worker.go:26-43`): resolve a class or
    * object by NAME at runtime and bind it to the `MrApp` contract.
    * Accepts a Scala `object` (its `MODULE$` singleton) or a class
    * with a no-arg constructor. A worker JVM can thus run an app that
    * existed only as a jar on its classpath, exactly like a worker
    * process dlopen-ing `wc.so` — with the same failure mode
    * (a name that resolves to nothing is a startup error, not a task
    * error).
    */
  def loadDynamic(className: String): MrApp = {
    val cls = Class.forName(className)
    val instance =
      try {
        val moduleField = cls.getField("MODULE$") // Scala object singleton
        moduleField.get(null)
      } catch {
        case _: NoSuchFieldException =>
          cls.getDeclaredConstructor().newInstance()
      }
    instance match {
      case app: MrApp => app
      case other =>
        throw new IllegalArgumentException(
          s"$className (${other.getClass.getName}) does not implement MrApp")
    }
  }

  /** Registry lookup with the dynamic path as fallback: `lookup("wc")`
    * hits the static map; `lookup("com.example.MyApp")` dlopens by
    * name. The dynamic path is GATED on a dotted (fully-qualified)
    * name: a plain name missing from the registry is a typo and must
    * fail as a loud unknown-app error, not become a class-load attempt
    * — and an externally supplied plain string can never reach
    * reflection (`Class.forName` on attacker-chosen input is an
    * instantiation seam; requiring the qualified-class shape keeps it
    * an explicit caller opt-in, like handing the reference worker an
    * actual `.so` path vs a name).
    */
  def lookup(name: String): MrApp =
    registry.getOrElse(
      name,
      if (name.contains('.')) loadDynamic(name)
      else
        throw new IllegalArgumentException(
          s"unknown app '$name' (registry: ${registry.keys.toSeq.sorted.mkString(", ")}; " +
            "dynamic load requires a fully-qualified class name)"))
}
