package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.MultimodalOps

/** Semantic invariants of the operator layer (the hash-vs-DuckDB gate
  * is the driver's; these are the properties a hash can't express).
  */
class OperatorsSpec extends AnyFunSuite {
  import SparkTestBase._

  test("wordCount total equals total token count of the corpus") {
    val total = TextOps
      .wordCount(spark, Sf0001)
      .agg(sum("cnt"))
      .collect()(0)
      .getLong(0)
    val direct = Tables
      .documents(spark, Sf0001)
      .select(size(TextOps.tokens(col("text"))).as("n"))
      .agg(sum("n"))
      .collect()(0)
      .getLong(0)
    assert(total === direct)
  }

  test("inverted index: every doc in a posting list contains the word") {
    val docs = Tables
      .documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val rows = TextOps.invertedIndex(spark, Sf0001).limit(50).collect()
    rows.foreach { r =>
      val word = r.getString(0)
      val posting = r.getString(2).split(",").map(_.toLong)
      assert(posting.length === r.getLong(1))
      posting.foreach { d =>
        assert(docs(d).split("[^\\p{L}]+").contains(word), s"doc $d missing '$word'")
      }
    }
  }

  test("exact dedup: keeper flags are consistent within groups") {
    val rows = DedupOps.exactDedup(spark, Sf0001).collect()
    rows.groupBy(_.getString(1)).foreach { case (_, g) =>
      assert(g.count(_.getBoolean(4)) === 1, "exactly one keeper per fp group")
      assert(g.map(_.getLong(3)).distinct.length === 1)
      assert(g.forall(_.getLong(2) === g.length))
    }
  }

  test("minhash candidates are high-jaccard; all verified pairs >= 0.7") {
    val pairs = DedupOps.minhashLsh(spark, Sf001).collect()
    assert(pairs.nonEmpty, "sf0.01 corpus should contain near-dup pairs")
    pairs.foreach(r => assert(r.getDouble(2) >= 0.7))
  }

  test("minhash pairs are a subset of exact ngram-jaccard pairs") {
    val mh = DedupOps.minhashLsh(spark, Sf001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ng = DedupOps.ngramJaccard(spark, Sf001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(ng), "jaccard>=0.7 candidates must appear in the >=0.5 exact set")
  }

  test("simhash near-identical docs have small hamming distance") {
    val fps = DedupOps.simhash(spark, Sf001).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc pairs found by exact jaccard >= 0.9 should be close in simhash space
    val near = DedupOps.ngramJaccard(spark, Sf001).filter(col("jaccard") >= 0.9).collect()
    assert(near.nonEmpty)
    val h = near.map { r =>
      val (a, b) = (fps(r.getLong(0)), fps(r.getLong(1)))
      a.zip(b).count { case (x, y) => x != y }
    }
    assert(h.sum.toDouble / h.length < 12.0, s"mean hamming of 0.9-jaccard pairs: ${h.toSeq}")
  }

  test("brute-force ANN: scores within [-1,1], ranks contiguous, k rows per query") {
    val rows = SimilarityOps.bruteForceTopK(spark, Sf001).collect()
    assert(rows.length === SimilarityOps.NumQueries * SimilarityOps.TopK)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(3)).sorted.toSeq === (1 to SimilarityOps.TopK).map(_.toLong))
      val scores = g.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(scores.sameElements(scores.sorted.reverse), "scores descend with rank")
      scores.foreach(s => assert(s >= -1.0 && s <= 1.0))
    }
  }

  test("LSH ANN achieves nontrivial recall against brute force") {
    val bf = SimilarityOps.bruteForceTopK(spark, Sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.lshTopK(spark, Sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.4, s"LSH recall@5 too low: $recall")
  }

  test("matryoshka recall: matches a sequential prefix-dim recompute; k=64 anchor is exact") {
    val vecs = Tables.embeddings(spark, Sf001)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    // the query's own arithmetic: sequential left-fold dot/norm in
    // double (VecDot's loop order), score DESC / neighbor ASC cut
    def top10(k: Int, qid: Long): Seq[Long] = {
      val qe = vecs(qid)
      def dotN(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < k) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
      }
      def norm(a: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < k) { s += a(i).toDouble * a(i).toDouble; i += 1 }; math.sqrt(s)
      }
      vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, dotN(qe, v) / (norm(qe) * norm(v))) }
        .sortBy { case (id, s) => (-s, id) }
        .take(10).map(_._1)
    }
    val got = SimilarityOps.matryoshkaRecall(spark, Sf001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for (qid <- 0L until SimilarityOps.NumQueries.toLong) {
      val anchor = top10(64, qid).toSet
      for (k <- Seq(8, 16, 32, 64)) {
        val expected = (top10(k, qid).toSet & anchor).size.toLong
        assert(got((k.toLong, qid)) === expected, s"k=$k query=$qid")
      }
      assert(got((64L, qid)) === 10L, "full-width anchor must self-overlap exactly")
    }
  }

  test("bpe train: matches an independent greedy left-to-right merge recompute") {
    // independent implementation: symbol VECTORS + a greedy fold, not
    // the string-replace form the query uses — agreeing results prove
    // the 3-pass replace contract equals true greedy merging here
    val words = Tables.documents(spark, Sf0001)
      .collect().flatMap(_.getString(1).split("[^\\p{L}]+")).filter(_.nonEmpty)
    var types: Map[Vector[String], Long] =
      words.groupBy(identity).map { case (w, g) => (w.map(_.toString).toVector, g.length.toLong) }
    def mergeGreedy(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val expected = (1 to TextOps.BpeMerges).map { k =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- types; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val ((a, b), cnt) = counts.minBy { case ((x, y), c) => (-c, s"$x $y") }
      types = types.groupBy { case (syms, _) => mergeGreedy(syms, a, b) }
        .map { case (m, g) => (m, g.values.sum) }
      (k.toLong, a, b, a + b, cnt)
    }
    val got = TextOps.bpeTrain(spark, Sf0001)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq === expected)
  }

  test("observe(): in-flight data-quality telemetry matches an exact recompute") {
    // the production pattern: metrics ride the query's own pass over
    // the data (no second scan), surfaced when the action finishes
    val obs = new org.apache.spark.sql.Observation("li_quality")
    val df = Tables.lineitem(spark, Sf0001)
      .observe(
        obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("n_null_qty"),
        max(col("l_extendedprice")).as("max_price")
      )
      .filter(col("l_quantity") > 25.0)
    val kept = df.count()
    val m = obs.get
    val li = Tables.lineitem(spark, Sf0001).collect()
    // observe sees PRE-filter rows: the metric point is the scan, not the result
    assert(m("n_rows") === li.length.toLong)
    assert(kept < li.length.toLong)
    assert(m("n_null_qty") === 0L)
    assert(m("max_price") === li.map(_.getAs[Double]("l_extendedprice")).max)
  }

  test("pca power: unit-norm loadings, converged eigenpair of the exact Gram matrix") {
    val vecs = Tables.embeddings(spark, Sf0001).collect().map(_.getSeq[Float](1).toArray)
    // exact dense Gram, independently recomputed
    val g = Array.tabulate(64, 64) { (i, j) =>
      vecs.map(v => v(i).toDouble * v(j).toDouble).sum
    }
    val rows = SimilarityOps.pcaPower(spark, Sf0001).collect().sortBy(_.getLong(0))
    assert(rows.length === 64)
    val x = rows.map(_.getDouble(1))
    val lambda = rows.head.getDouble(2)
    assert(rows.forall(r => r.getDouble(2) === lambda))
    assert(math.abs(math.sqrt(x.map(v => v * v).sum) - 1.0) < 1e-12, "unit norm")
    // eigenpair residual: ||G x - lambda x|| should be small vs lambda
    val gx = g.map(row => row.zip(x).map { case (a, b) => a * b }.sum)
    val resid = math.sqrt(gx.zip(x).map { case (y, xi) => (y - lambda * xi) * (y - lambda * xi) }.sum)
    assert(resid / lambda < 0.02, s"power iteration not converged: resid/lambda = ${resid / lambda}")
    assert(lambda > 0.0)
  }

  test("pca scores: per-label projection masses match a sequential recompute") {
    val comp = SimilarityOps.pcaPower(spark, Sf0001).collect()
      .sortBy(_.getLong(0)).map(_.getDouble(1))
    val vecs = Tables.embeddings(spark, Sf0001)
      .collect().map(r => (r.getInt(2), r.getSeq[Float](1).toArray))
    val rows = SimilarityOps.pcaScores(spark, Sf0001).collect()
    assert(rows.map(_.getLong(1)).sum === vecs.length.toLong)
    rows.foreach { r =>
      val mine = vecs.filter(_._1 == r.getLong(0))
        .map { case (_, v) =>
          v.zip(comp).foldLeft(0.0) { case (acc, (a, b)) => acc + a.toDouble * b }
        }
      assert(r.getLong(1) === mine.length.toLong)
      val exact = mine.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
      assert(math.abs(r.getDouble(2) - exact.toDouble) < 1e-9)
      assert(r.getDouble(3) === mine.min && r.getDouble(4) === mine.max)
    }
  }

  test("gram matrix: upper triangle matches a sequential outer-product fold; diagonal = norms") {
    val vecs = Tables.embeddings(spark, Sf0001)
      .collect().map(_.getSeq[Float](1).toArray)
    val got = SimilarityOps.gramMatrix(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size === 64 * 65 / 2)
    // decimal-exact recompute of a sample of cells (incl. the diagonal)
    for ((i, j) <- Seq((0L, 0L), (0L, 63L), (17L, 42L), (63L, 63L))) {
      val exact = vecs.map { v =>
        BigDecimal(v(i.toInt).toDouble * v(j.toInt).toDouble)
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      assert(math.abs(got((i, j)) - exact.toDouble) < 1e-9, s"cell ($i,$j)")
    }
    // Gram diagonal must equal the corpus sum of squared norms per dim >= 0
    (0L until 64L).foreach(d => assert(got((d, d)) >= 0.0))
  }

  test("quality gate: masks partition the corpus; bits agree with the standalone screens") {
    val rows = TextOps.qualityGate(spark, Sf0001).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
    val nDocs = Tables.documents(spark, Sf0001).count()
    assert(rows.map(_._2._1).sum === nDocs, "masks must partition the corpus")
    assert(rows.map(_._1._2).distinct.length >= 2, "gate must be non-vacuous")
    rows.foreach { case ((_, mask), _) => assert(mask >= 0 && mask <= 7) }
    // bit 1 mass must equal the consonant screen's flag count
    val flagged = TextOps.consonantRuns(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val bit1 = rows.filter { case ((_, m), _) => (m & 2L) != 0 }
      .groupBy(_._1._1).view.mapValues(_.map(_._2._1).sum).toMap
    flagged.foreach { case (src, n) =>
      assert(bit1.getOrElse(src, 0L) === n, s"source $src consonant-bit mass")
    }
  }

  test("linear attribution: matches a sequential per-purchase window scan") {
    val ev = Tables.events(spark, Sf0001)
      .selectExpr("user_id", "event_type", "ts DIV 1000 AS us")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(1 + 1)))
    val byUser = ev.groupBy(_._1)
    case class Acc(var purchases: Long = 0, var touches: Long = 0, var credit: Long = 0)
    val acc = scala.collection.mutable.Map[String, Acc]()
    for ((_, g) <- byUser; (_, t, us) <- g if t == "purchase") {
      val window = g.filter { case (_, tt, uu) =>
        tt != "purchase" && uu >= us - 86400000000L && uu <= us - 1L
      }
      val n = window.length.toLong
      if (n > 0) {
        val share = 1000000L / n
        window.groupBy(_._2).foreach { case (tt, ws) =>
          val a = acc.getOrElseUpdate(tt, Acc())
          a.purchases += 1; a.touches += ws.length; a.credit += ws.length * share
        }
      }
    }
    val got = EventOps.linearAttribution(spark, Sf0001)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet === acc.keySet)
    acc.foreach { case (t, a) =>
      assert(got(t) === ((a.purchases, a.touches, a.credit)), s"type $t")
    }
  }

  test("kcore peel: matches a sequential peel, trajectory is monotone and converges") {
    val edges = operators.DedupOps.minhashLsh(spark, Sf0001)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var e = edges.toSet
    val expected = (1 to GraphOps.KCoreRounds).map { r =>
      val deg = (e.toSeq.map(_._1) ++ e.toSeq.map(_._2)).groupBy(identity).view.mapValues(_.size)
      val kept = deg.filter(_._2 >= GraphOps.KCoreK).keys.toSet
      e = e.filter { case (a, b) => kept.contains(a) && kept.contains(b) }
      (r.toLong, kept.size.toLong, e.size.toLong)
    }
    val got = GraphOps.kcorePeel(spark, Sf0001)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === expected)
    // shrinkage is monotone, and the peel has converged by the last round
    got.sliding(2).foreach { case Array(p, n) =>
      assert(n._2 <= p._2 && n._3 <= p._3)
    case _ => }
    assert(got(got.length - 1)._2 === got(got.length - 2)._2,
      "raise KCoreRounds: peel did not converge on the test corpus")
  }

  test("sql interface: spark.sql runs the shared ANSI text; masses and ranks are consistent") {
    val rows = RelationalOps.sqlInterface(spark, Sf0001).collect()
    val nNations = Tables.nation(spark, Sf0001).count()
    assert(rows.length.toLong === nNations)
    val nCustomers = Tables.customer(spark, Sf0001).count()
    val nOrders = Tables.orders(spark, Sf0001).count()
    assert(rows.map(_.getLong(1)).sum === nCustomers, "every customer counted once")
    assert(rows.map(_.getLong(2)).sum === nOrders, "every order counted once")
    // standard RANK semantics: sorted by (n_orders DESC, n_name) the ranks are 1,2,3,...
    val sorted = rows.sortBy(r => (-r.getLong(2), r.getString(0)))
    sorted.zipWithIndex.foreach { case (r, i) => assert(r.getLong(3) === i + 1L) }
  }

  test("bpe encode: letter mass is conserved and compression never exceeds 1:1") {
    val rows = TextOps.bpeEncode(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    // independent recompute of the per-source letter/occurrence mass
    val docs = Tables.documents(spark, Sf0001).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text")))
    rows.foreach { r =>
      val words = docs.filter(_._1 == r.getString(0))
        .flatMap(_._2.split("[^\\p{L}]+")).filter(_.nonEmpty)
      assert(r.getLong(1) === words.length.toLong, "occurrence mass")
      assert(r.getLong(2) === words.distinct.length.toLong, "type count")
      assert(r.getLong(3) === words.map(_.length.toLong).sum, "letter mass")
      // merges only ever shrink sequences: chars >= bpe tokens >= words
      assert(r.getLong(4) <= r.getLong(3) && r.getLong(4) >= r.getLong(1))
      assert(r.getLong(5) === r.getLong(4) * 1000000L / r.getLong(3))
    }
  }

  test("tvd drift: matches a sequential recompute and stays within [0,1]") {
    val ev = Tables.events(spark, Sf0001)
      .selectExpr("event_type", "ts DIV 1000 AS us", "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS LONG) AS vb")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val rows = EventOps.tvdDrift(spark, Sf0001).collect()
    assert(rows.map(_.getString(0)).toSet === ev.map(_._1).toSet)
    rows.foreach { r =>
      val (tpe, nf, ns) = (r.getString(0), r.getLong(1), r.getLong(2))
      val mine = ev.filter(_._1 == tpe)
      val (first, second) = mine.partition(_._2 <= mid)
      assert(nf === first.length.toLong && ns === second.length.toLong)
      val c0 = first.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      val c1 = second.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      val num = (c0.keySet ++ c1.keySet).toSeq.map { vb =>
        (BigInt(c0.getOrElse(vb, 0L)) * ns - BigInt(c1.getOrElse(vb, 0L)) * nf).abs
      }.sum
      assert(r.getLong(3) === num.toLong)
      assert(r.getLong(4) === (c0.keySet ++ c1.keySet).size.toLong)
      val tvd = r.getDouble(5)
      assert(tvd >= 0.0 && tvd <= 1.0)
      assert(math.abs(tvd - num.toDouble / (2.0 * nf * ns)) < 1e-12)
    }
  }

  test("sessions: per-user session ids are contiguous and gaps respected") {
    val s = EventOps.sessionize(spark, Sf0001).collect()
    s.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val ids = g.map(_.getLong(1)).sorted
      assert(ids.toSeq === (1L to ids.length))
      // session bounds do not overlap and successive sessions are > 30 min apart
      val sorted = g.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(p, n) =>
          assert(n.getLong(3) - p.getLong(4) > EventOps.SessionGapUs)
        case _ =>
      }
    }
  }

  test("purchase attribution: signup precedes purchase for every pair") {
    val rows = EventOps.purchaseAttribution(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(3) >= 0, "gap_us must be non-negative"))
  }

  test("gini inequality: exact BigInt recompute of both subjects") {
    val got = RelationalOps.giniInequality(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def expected(xs: Seq[Long]): (Long, Long, Long) = {
      val sorted = xs.sorted
      val n = BigInt(sorted.size)
      val s0 = sorted.map(BigInt(_)).sum
      val s1 = sorted.zipWithIndex.map { case (x, i) => BigInt(x) * (i + 1) }.sum
      val ppm = (2 * s1 - (n + 1) * s0) * 1000000 / (n * s0)
      (n.toLong, s0.toLong, ppm.toLong)
    }
    val spend = Tables.orders(spark, Sf0001)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast("long")).as("x"))
      .collect().map(_.getLong(1)).toSeq
    // ties in x are resolved by the key tiebreak, but i·x summed over a
    // tie group is invariant to order within the group (same x), so
    // plain sorted-order recompute is exact
    assert(got("customer_spend") === expected(spend))
    val freq = Tables.documents(spark, Sf0001)
      .select(explode(TextOps.tokens(lower(col("text")))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("x"))
      .collect().map(_.getLong(1)).toSeq
    assert(got("token_freq") === expected(freq))
    // (no skew-ordering sanity here: the synthetic corpus draws from a
    // ~40-word vocabulary, so token frequencies are nearly UNIFORM —
    // token gini ≈ 0.05 — while spend gini ≈ 0.2)
  }

  test("column profile: per-column counts match direct recomputes") {
    val got = EventOps.columnProfile(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet === Set("event_id", "ts", "user_id", "event_type", "value",
      "props", "props_k"))
    val ev = Tables.events(spark, Sf0001)
    val n = ev.count()
    assert(got.values.forall(_._1 == n))
    assert(got.values.forall(_._2 == 0L)) // synthetic table has no nulls
    assert(got("event_id")._3 === n) // unique key
    assert(got("user_id")._3 === ev.select(col("user_id")).distinct().count())
    assert(got("event_type")._3 === ev.select(col("event_type")).distinct().count())
    assert(got("props_k")._3 ===
      ev.select(get_json_object(col("props"), "$.k")).distinct().count())
  }

  test("simhash calibration: per-bin overlap sums match a direct pair recompute") {
    val posting = Tables.documents(spark, Sf0001)
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions
          .wordNgrams(TextOps.tokens(lower(col("text"))), lit(3))).as("sh"))
      .distinct()
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pairs = DedupOps.simhashPairs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = pairs.groupBy(_._3).view.mapValues { ps =>
      val stats = ps.map { case (a, b, _) =>
        val sa = posting.getOrElse(a, Set.empty)
        val sb = posting.getOrElse(b, Set.empty)
        val sh = (sa intersect sb).size.toLong
        (sh, sa.size.toLong + sb.size.toLong - sh)
      }
      (ps.length.toLong, stats.count(_._1 > 0).toLong, stats.map(_._1).sum, stats.map(_._2).sum)
    }.toMap
    val got = DedupOps.simhashCalibration(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("ann recall: hits equal set intersections with the brute-force truth") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(SimilarityOps.bruteForceTopK(spark, Sf0001))
    val got = SimilarityOps.annRecall(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    for ((m, approxDf) <- Seq(
        "ivf" -> SimilarityOps.ivfLabelTopK(spark, Sf0001),
        "lsh" -> SimilarityOps.lshTopK(spark, Sf0001))) {
      val a = pairs(approxDf)
      val hits = (truth intersect a).size.toLong
      assert(got(m) === ((truth.size.toLong, a.size.toLong, hits,
        (BigInt(hits) * 1000000 / truth.size).toLong)), m)
    }
    assert(got("lsh")._3 > 0)
  }

  test("dedup savings: each row folds its own method's table") {
    val got = DedupOps.dedupSavings(spark, Sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val tok = Tables.documents(spark, Sf001)
      .select(col("doc_id"), TextOps.packTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ex = DedupOps.exactDedup(spark, Sf001).filter(!col("is_keeper"))
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(got("exact") === ((ex.length.toLong, ex.map(tok).sum)))
    val nc = GraphOps.dedupClusters(spark, Sf001).filter(!col("is_canonical"))
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(got("near") === ((nc.length.toLong, nc.map(tok).sum)))
    val spanT = DedupOps.spanRewrite(spark, Sf001)
      .agg(sum(col("n_dropped_blocks"))).collect()(0).getLong(0) * DedupOps.SpanTokens
    assert(got("span") === ((0L, spanT)))
    val chunkT = DedupOps.cdcChunkTable(spark, Sf001)
      .groupBy(col("chash")).agg(((count(lit(1)) - 1) * min(col("n_toks"))).as("s"))
      .agg(sum(col("s"))).collect()(0).getLong(0)
    assert(got("chunk") === ((0L, chunkT)))
    assert(got("near")._1 > 0 && got("span")._2 > 0 && got("chunk")._2 > 0)
  }

  test("hilbert64: full-curve bijection, unit-step adjacency, tighter spans than Z") {
    // the whole 1024x1024 domain: d must visit every cell exactly once
    // (bijection) and consecutive d's must be GRID NEIGHBORS — the
    // locality property Z-order lacks
    val cells = spark.range(0, 1L << 20)
      .selectExpr("id DIV 1024 AS x", "id % 1024 AS y")
      .selectExpr("hilbert64(x, y) AS d", "x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cells.map(_._1).distinct.length === (1 << 20)) // bijective
    val byD = cells.sortBy(_._1)
    assert(byD.head._1 === 0L && byD.last._1 === (1L << 20) - 1)
    byD.sliding(2).foreach { case Array((_, x1, y1), (_, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"curve jumped: ($x1,$y1) -> ($x2,$y2)")
    }
    // the layout payoff is on UNALIGNED consecutive runs (arbitrary
    // d-ranges a scan actually reads; power-of-two-ALIGNED Z buckets
    // are perfect rectangles, so bucket summaries alone can't show
    // it): any 4096-cell Hilbert segment stays inside an O(sqrt(m))
    // box, while the Z curve's center crossing stretches some segment
    // across more than half the plane
    val zCells = spark.range(0, 1L << 20)
      .selectExpr("id DIV 1024 AS x", "id % 1024 AS y")
      .selectExpr("zorder64(x, y) AS d", "x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    def maxSegmentSide(cells: Array[(Long, Long, Long)], m: Int): Long =
      (0 until cells.length - m by m / 2).map { off =>
        val w = cells.slice(off, off + m)
        math.max(w.map(_._2).max - w.map(_._2).min, w.map(_._3).max - w.map(_._3).min)
      }.max
    val hSide = maxSegmentSide(byD, 4096)
    val zSide = maxSegmentSide(zCells, 4096)
    assert(hSide <= 3 * math.sqrt(4096).toLong, s"hilbert segment side $hSide")
    assert(zSide > 2 * hSide, s"z $zSide should dwarf hilbert $hSide")
  }

  test("content split: cluster members share a split; grid partitions the corpus") {
    val grid = TextOps.contentSplit(spark, Sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val total = Tables.documents(spark, Sf001).count()
    assert(grid.values.sum === total)
    // the property the operator exists for: every doc of a cluster gets
    // the CANONICAL id's split, so within a cluster assignments agree
    val byCluster = GraphOps.dedupClusters(spark, Sf001)
      .select(col("doc_id"), col("canonical_id"))
      .join(
        Tables.documents(spark, Sf001).select(col("doc_id")),
        Seq("doc_id"))
      .withColumn("s", TextOps.splitExpr(col("canonical_id")))
      .collect().map(r => r.getLong(1) -> r.getString(2))
    assert(byCluster.groupBy(_._1).forall { case (_, xs) => xs.map(_._2).distinct.size == 1 })
    // and the grid is non-trivial at this SF: some mass moves
    assert(grid.keys.exists { case (a, b) => a != b })
  }

  test("wav stats: PCM formula survives the RIFF/WAV encode-decode round trip") {
    val got = graft.sources.MultimodalOps.wavStats(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ids = Tables.documents(spark, Sf0001).select(col("doc_id")).collect().map(_.getLong(0))
    assert(got.keySet === ids.toSet)
    ids.foreach { id =>
      val n = 64 + id % 64
      var absSum = 0L
      for (t <- 0L until n) absSum += math.abs((id * 131 + 17 * t) % 65536 - 32768)
      assert(got(id) === ((n, 8000L, absSum)), s"media $id")
    }
  }

  test("ensemble pairs: overlap matrix equals set recomputes of the three blockers") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val m = pairs(DedupOps.minhashLsh(spark, Sf0001))
    val g = pairs(DedupOps.ngramJaccard(spark, Sf0001))
    val sn = pairs(DedupOps.sortedNeighborhood(spark, Sf0001))
    val got = DedupOps.ensemblePairs(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got(("minhash", "ngram")) ===
      ((m.size.toLong, g.size.toLong, (m intersect g).size.toLong)))
    assert(got(("minhash", "snm")) ===
      ((m.size.toLong, sn.size.toLong, (m intersect sn).size.toLong)))
    assert(got(("ngram", "snm")) ===
      ((g.size.toLong, sn.size.toLong, (g intersect sn).size.toLong)))
    assert(m.nonEmpty && g.nonEmpty && sn.nonEmpty)
  }

  test("simhash64 kernel: equals the count-weighted aggregate formula, null guard") {
    // the retired aggregate pipeline, recomputed as the reference:
    // sum over DISTINCT tokens of count x (+-1 per md5 bit), sign at >= 0
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox the the",
      "a b c a",
      "one-token",
      "répé répé unicode łódź"
    ).toDF("text")
    val got = docs
      .selectExpr("simhash64(filter(split(lower(text), '[^\\\\p{L}]+'), t -> length(t) > 0)) AS s")
      .collect().map(_.getString(0))
    def ref(text: String): String = {
      val toks = text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
      val acc = new Array[Int](64)
      toks.groupBy(identity).foreach { case (t, occ) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        (0 until 64).foreach { j =>
          val bit = (Character.digit(hex.charAt(j / 4), 16) >> (3 - j % 4)) & 1
          acc(j) += (if (bit == 1) occ.length else -occ.length)
        }
      }
      acc.map(v => if (v >= 0) '1' else '0').mkString
    }
    got.zip(Seq(
      "the quick brown fox the the", "a b c a", "one-token", "répé répé unicode łódź"
    ).map(ref)).foreach { case (g, r) => assert(g === r) }
    // a null element is a loud error, never a silent fingerprint
    val err = intercept[Exception] {
      spark.sql("SELECT simhash64(array('a', CAST(NULL AS STRING)))").collect()
    }
    assert(err.getMessage != null)
  }

  test("outer_products: values, ordering, and the null-element guard") {
    val r = spark.sql(
      "SELECT outer_products(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)))"
    ).collect()(0).getSeq[Double](0)
    // i-major upper triangle of [1,2,3]: (0,0)(0,1)(0,2)(1,1)(1,2)(2,2)
    assert(r === Seq(1.0, 2.0, 3.0, 4.0, 6.0, 9.0))
    val nerr = intercept[Exception] {
      spark.sql(
        "SELECT outer_products(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)))").collect()
    }
    assert(nerr.getMessage.contains("null array element"), nerr.getMessage)
  }

  test("mass shards: exact prefix-sum recompute; every shard within one doc of even mass") {
    val got = TextOps.massShards(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), TextOps.packTokenCount(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = docs.map(_._2).sum
    var cum = 0L
    val assigned = docs.map { case (id, n) =>
      val shard = (BigInt(cum) * TextOps.MassShardCount / BigInt(math.max(total, 1L))).toLong
      cum += n
      (shard, id, n)
    }
    val expected = assigned.groupBy(_._1).map { case (sh, rows) =>
      sh -> (rows.size.toLong, rows.map(_._3).sum, rows.map(_._2).min, rows.map(_._2).max,
        (BigInt(rows.map(_._3).sum) * 1000000 / BigInt(math.max(total, 1L))).toLong)
    }
    assert(got === expected)
    // balance property: a shard overshoots the even split by at most
    // one document (greedy boundary assignment)
    val maxDoc = docs.map(_._2).max
    got.values.foreach { case (_, mass, _, _, _) =>
      assert(mass <= total / TextOps.MassShardCount + maxDoc)
    }
  }

  test("multimodal decode stub: expression path == typed mapPartitions path") {
    val exprPath = MultimodalOps.decodeMeta(spark, Sf0001)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    val typedPath = MultimodalOps.decodeBatch(spark, Sf0001)
      .collect().map(m => (m.media_id, (m.n_bytes, m.media_type, m.width.toLong, m.height.toLong))).toMap
    assert(exprPath === typedPath)
  }

  test("multimodal REAL decode: image payloads route through javax.imageio; " +
    "pixel stats survive the PNG round trip exactly") {
    // an actual 5x3 grayscale PNG takes the real path with true dims
    val img = new java.awt.image.BufferedImage(
      5, 3, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (x <- 0 until 5; y <- 0 until 3) img.getRaster.setSample(x, y, 0, (x * 40 + y * 7) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val decoded = MultimodalOps.decodeImage(png)
    assert(decoded.exists(d => d.getWidth == 5 && d.getHeight == 3))
    for (x <- 0 until 5; y <- 0 until 3)
      assert(decoded.get.getRaster.getSample(x, y, 0) === (x * 40 + y * 7) % 256,
        s"pixel ($x,$y) corrupted by the round trip")
    // a text payload is claimed by no reader -> stub fallback
    assert(MultimodalOps.decodeImage("not an image".getBytes).isEmpty)
    // the gate query's numbers equal an independent Scala recompute of
    // the pixel formula (the DuckDB oracle is the cross-engine twin)
    val got = MultimodalOps.imagePixelStats(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val ids = Tables.documents(spark, Sf0001).select(col("doc_id")).collect().map(_.getLong(0))
    assert(got.keySet === ids.toSet)
    ids.foreach { id =>
      val w = 8 + id % 8
      val h = 8 + id % 5
      var sum = 0L
      for (x <- 0L until w; y <- 0L until h) sum += (id * 31 + 7 * x + 13 * y) % 256
      assert(got(id) === ((w, h, w * h, sum)), s"media $id")
    }
  }

  test("sources/sinks: JSON, CSV, ORC, and XML roundtrip the documents table") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, Sf0001).orderBy("doc_id")
    val tmp = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    docs.write.mode("overwrite").json(s"$tmp/j")
    docs.write.mode("overwrite").option("header", "true").option("quoteAll", "true")
      .csv(s"$tmp/c")
    docs.write.mode("overwrite").orc(s"$tmp/o")
    docs.write.mode("overwrite").option("rowTag", "doc").format("xml").save(s"$tmp/x")
    val fromJson = spark.read.json(s"$tmp/j")
      .select(docs.columns.toSeq.map(col): _*)
    val fromCsv = spark.read.option("header", "true").schema(docs.schema).csv(s"$tmp/c")
    val fromOrc = spark.read.orc(s"$tmp/o")
    val fromXml = spark.read.option("rowTag", "doc").schema(docs.schema)
      .format("xml").load(s"$tmp/x")
    assert(fromJson.count() === docs.count())
    assert(fromCsv.count() === docs.count())
    assert(fromOrc.schema === docs.schema) // ORC is schema-preserving, unlike csv/json/xml
    val orig = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val j = fromJson.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val o = fromOrc.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val x = fromXml.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(j === orig)
    assert(o === orig)
    assert(x === orig)
  }

  test("corrupt JSON records: PERMISSIVE quarantines rows, FAILFAST refuses them") {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-corrupt").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "part.json"),
      Seq(
        """{"doc_id": 1, "text": "ok row"}""",
        """{"doc_id": oops not json""",
        """{"doc_id": 3, "text": "another ok row"}"""
      ).mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp).cache() // cache: corrupt-record queries need the full row materialized
    try {
      assert(permissive.count() === 3)
      assert(permissive.filter(col("_corrupt_record").isNotNull).count() === 1)
      assert(permissive.filter(col("_corrupt_record").isNull)
        .select(sum(col("doc_id"))).collect()(0).getLong(0) === 4L)
      val failfast = spark.read
        .schema(StructType(schema.dropRight(1)))
        .option("mode", "FAILFAST").json(tmp)
      intercept[org.apache.spark.SparkException](failfast.count())
    } finally permissive.unpersist()
  }

  test("parquet schema evolution: mergeSchema unions columns across file generations") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    // generation 1 lacks the quality column; generation 2 adds it
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/g=1")
    Seq((3L, "c", 0.9)).toDF("doc_id", "text", "quality")
      .write.parquet(s"$tmp/g=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
    assert(merged.columns.toSet === Set("doc_id", "text", "quality", "g"))
    val rows = merged.collect().map(r =>
      r.getLong(r.fieldIndex("doc_id")) ->
        (if (r.isNullAt(r.fieldIndex("quality"))) None
         else Some(r.getDouble(r.fieldIndex("quality"))))).toMap
    assert(rows === Map(1L -> None, 2L -> None, 3L -> Some(0.9)))
  }

  test("the full SQL surface works: q1 as spark.sql over temp views") {
    Tables.lineitem(spark, Sf0001).createOrReplaceTempView("lineitem")
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS count_order,
        | CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val viaDf = RelationalOps.pricingSummary(spark, Sf0001)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(9), r.getDouble(2)))
      .toMap
    assert(viaSql === viaDf)
  }

  test("connected components: local union-find == distributed label propagation") {
    val pairs = DedupOps.minhashLsh(spark, Sf001).select("doc_a", "doc_b").cache()
    try {
      val local = GraphOps.connectedComponentsLocal(pairs, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = GraphOps.connectedComponentsDistributed(pairs, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local === dist)
      assert(local.nonEmpty)
    } finally pairs.unpersist()
  }

  test("native expressions are SQL-visible via GraftExtensions") {
    // every table entry reaches a fresh session with no register call
    val names = graft.functions.VectorExpressions.NativeFunctions.map(_._1.funcName)
    assert(names.distinct.size === names.size)
    val fresh = spark.newSession()
    val missing = names.filterNot(n => fresh.catalog.functionExists(n))
    assert(missing.isEmpty, s"not injected by GraftExtensions: ${missing.mkString(", ")}")
    val r = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d, " +
        "hamming_bits('1010', '1001') AS h, " +
        "fnv1a('foobar') AS f"
    ).collect()(0)
    assert(r.getDouble(0) === 11.0)
    assert(r.getLong(1) === 2L)
    assert(r.getInt(2) === graft.functions.Fnv1a.hash("foobar"))
  }

  test("native functions: building and running queries logs no replaced-function warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val replaced = new java.util.concurrent.atomic.AtomicInteger
    val appender = new AbstractAppender("replaced-function", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
          replaced.incrementAndGet()
    }
    appender.start()
    val logger = LogManager
      .getLogger("org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry")
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      // perfbench's llm_pipeline queries, and the engine's word count
      Seq("decontaminate", "simhash_calibration", "dsir_doc_scores", "mm_ahash_pairs",
        "bpe_encode", "wc_kernel").foreach { q =>
        SparkEntry.queries(q)(spark, Sf0001).write.format("noop").mode("overwrite").save()
      }
      graft.functions.VectorExpressions.register(spark)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    assert(replaced.get === 0)
  }

  test("fnv1a codegen expression == the JVM hash on every kernel output key") {
    import org.apache.spark.sql.functions.col
    val words = TextOps.wordCount(spark, Sf0001)
      .select(col("word"), graft.functions.Fnv1a.fnv1a(col("word")).as("h"))
      .collect()
    assert(words.nonEmpty)
    words.foreach(r => assert(r.getInt(1) === graft.functions.Fnv1a.hash(r.getString(0))))
  }

  test("ascii_window_sums == the HOF aggregate/substring form on the corpus") {
    // unit vectors first: windows, trailing drop, win<1 guard, unicode
    val u = spark.sql(
      "SELECT ascii_window_sums('abcd', 2) AS w2, " +   // [97+98, 99+100]
        "ascii_window_sums('abcde', 2) AS trail, " +    // 'e' dropped
        "ascii_window_sums('abc', 0) AS z, " +
        "ascii_window_sums('', 3) AS e, " +
        "ascii_window_sums('éx', 1) AS uni"        // codepoint 233
    ).collect()(0)
    assert(u.getSeq[Long](0) === Seq(195L, 199L))
    assert(u.getSeq[Long](1) === Seq(195L, 199L))
    assert(u.getSeq[Long](2) === Seq())
    assert(u.getSeq[Long](3) === Seq())
    assert(u.getSeq[Long](4) === Seq(233L, 120L))
    // corpus parity against the interpreted HOF the multimodal ops
    // used to build: every doc, every window, at the audio width
    val mism = Tables.documents(spark, Sf0001)
      .selectExpr(
        "ascii_window_sums(text, 64) AS fast",
        """CASE WHEN length(text) >= 64 THEN
          |  transform(sequence(0, CAST(length(text) DIV 64 AS INT) - 1), k ->
          |    aggregate(transform(sequence(1, 64),
          |      j -> ascii(substring(text, CAST(k*64 + j AS INT), 1))), 0L, (a, x) -> a + x))
          |ELSE array() END AS slow""".stripMargin
      )
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mism === 0L)
  }

  test("sliding_min == the HOF transform/slice form; deque edge cases") {
    val u = spark.sql(
      "SELECT sliding_min(array(5L,3L,4L,1L,2L), 3) AS a, " + // [3,1,1]
        "sliding_min(array(7L,7L,7L), 1) AS b, " +            // identity
        "sliding_min(array(1L,2L), 3) AS short, " +
        "sliding_min(array(1L,2L), 0) AS z, " +
        "sliding_min(array(9L,8L,7L,6L), 4) AS whole"
    ).collect()(0)
    assert(u.getSeq[Long](0) === Seq(3L, 1L, 1L))
    assert(u.getSeq[Long](1) === Seq(7L, 7L, 7L))
    assert(u.getSeq[Long](2) === Seq())
    assert(u.getSeq[Long](3) === Seq())
    assert(u.getSeq[Long](4) === Seq(6L))
    // null ELEMENTS error loudly instead of silently reading garbage
    // from the null slot (the slot would otherwise decode as 0)
    // (intercept Exception: constant folding may raise the guard's
    // IllegalArgumentException on the driver, pre-task-wrapper)
    val nerr = intercept[Exception] {
      spark.sql("SELECT sliding_min(array(5L, CAST(NULL AS BIGINT), 4L), 2)").collect()
    }
    assert(nerr.getMessage.contains("null array element"), nerr.getMessage)
    val derr = intercept[Exception] {
      spark.sql(
        "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))").collect()
    }
    assert(derr.getMessage.contains("null array element"), derr.getMessage)
    // corpus parity against the interpreted HOF the winnow used to
    // build, over the real shingle-hash arrays
    val mism = Tables.documents(spark, Sf0001)
      .select(
        graft.functions.VectorExpressions
          .wordNgrams(TextOps.tokens(lower(col("text"))), lit(4)).as("g")
      )
      .selectExpr(
        "transform(g, x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)) AS hs"
      )
      .selectExpr(
        "sliding_min(hs, 5) AS fast",
        """CASE WHEN size(hs) >= 5
          |  THEN transform(sequence(0, size(hs) - 5),
          |                 i -> array_min(slice(hs, i + 1, 5)))
          |  ELSE CAST(array() AS ARRAY<BIGINT>) END AS slow""".stripMargin
      )
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mism === 0L)
  }

  test("word_ngrams: consecutive space-joined n-grams, empty below n tokens") {
    val r = spark.sql(
      "SELECT word_ngrams(array('a','b','c','d'), 3) AS g3, " +
        "word_ngrams(array('a','b'), 3) AS empty, " +
        "word_ngrams(array('x','y'), 2) AS g2, " +
        "word_ngrams(array('x','y'), 0) AS n0, " +   // n < 1: empty,
        "word_ngrams(array('x','y'), -2) AS nneg"    // not bogus rows
    ).collect()(0)
    assert(r.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(r.getSeq[String](1) === Seq())
    assert(r.getSeq[String](2) === Seq("x y"))
    assert(r.getSeq[String](3) === Seq())
    assert(r.getSeq[String](4) === Seq())
  }

  test("int_vec_sum aggregate == exploded sum, and misuse fails at analysis") {
    val sql64 = (base: Int) =>
      s"array(${(0 until 64).map(i => base * (i + 1) * (if (i % 2 == 0) 1 else -1)).mkString(",")})"
    val r = spark.sql(
      s"SELECT int_vec_sum(v) AS s FROM VALUES (${sql64(1)}), (${sql64(10)}) AS t(v)"
    ).collect()(0).getSeq[Long](0)
    assert(r.length === 64)
    assert(r.zipWithIndex.forall { case (v, i) =>
      v == 11L * (i + 1) * (if (i % 2 == 0) 1 else -1)
    })
    // a non-64-wide array is a contract violation: loud runtime
    // failure, not a silently truncated/zero-padded answer (ADVICE r2)
    val werr = intercept[org.apache.spark.SparkException] {
      spark.sql("SELECT int_vec_sum(v) AS s FROM VALUES (array(1, 2, 3)) AS t(v)").collect()
    }
    assert(werr.getMessage.contains("exactly 64"))
    // wrong input types die at analysis, not execution (ADVICE round 1)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_dot(array(1.0, 2.0), array(3.0, 4.0))").collect()
    }
    assert(err.getMessage.contains("array<float>"))
  }

  test("dedup suite is partition-invariant: shuffle parallelism 2 vs 16 identical") {
    // guards the single-materialization rewrites: a localCheckpoint'd
    // intermediate must not bake any partitioning artifact into results.
    // The RAW builders, deliberately: the public accessors memoize per
    // (session, dir), which would compare one cached artifact to itself
    def run(): (Set[(Long, Long)], Set[(Long, Long)], Map[Long, Long], Set[(Long, Long, Long)], Set[(Long, Long, Long)]) = (
      DedupOps.minhashLshBuild(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      DedupOps.ngramJaccardBuild(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      GraphOps.dedupClustersBuild(spark, Sf0001).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap,
      DedupOps.simhashPairsBuild(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      graft.sources.MultimodalOps.aHashPairsBuild(spark, Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    )
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val r2 = run()
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      val r16 = run()
      assert(r2 === r16)
      assert(r2._1.nonEmpty)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("round-6 planning queries are partition-invariant: parallelism 2 vs 16") {
    // the late-addition board members with real shuffle structure —
    // RankOps ledgers (zipf), fp windows (funnel, growth), bucket
    // censuses, posting joins (bloom, perm sweep) — must not bake the
    // partition count into any value. Artifact consumers still
    // exercise their own joins/aggregates even when the artifact is
    // session-cached.
    val names = Seq("heaps_law", "zipf_fit", "dup_growth_curve", "dup_source_matrix",
      "filter_funnel", "shard_stability", "candidate_volume", "bloom_fpp_sweep",
      "salting_plan", "minhash_perm_sweep", "lexical_vs_semantic", "lsh_plane_sweep")
    def run(): Map[String, Set[String]] = names.map { n =>
      n -> SparkEntry.queries(n)(spark, Sf0001).collect().map(_.toString).toSet
    }.toMap
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val r2 = run()
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      val r16 = run()
      names.foreach(n => assert(r2(n) === r16(n), s"query $n partition-sensitive"))
      assert(r2.values.forall(_.nonEmpty))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("data split: every doc assigned, ratios near 80/10/10, assignment is id-stable") {
    import org.apache.spark.sql.functions.col
    val counts = TextOps.dataSplit(spark, Sf001).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val total = counts.values.sum
    assert(total === Tables.documents(spark, Sf001).count())
    assert(math.abs(counts("train").toDouble / total - 0.8) < 0.06)
    // stability: a doc's split is a pure function of its id — the same
    // ids at a different scale factor get the same assignment
    val small = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), TextOps.splitExpr(col("doc_id")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val large = Tables.documents(spark, Sf001)
      .select(col("doc_id"), TextOps.splitExpr(col("doc_id")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    small.keys.filter(large.contains).foreach(id => assert(small(id) === large(id)))
  }

  test("embedding near-dup: no false positives, recall vs the exact half-matrix") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    // exact half-matrix ground truth — test-only; the operator itself
    // must never do this (its plan is asserted exchange-equi-join only)
    val e = Tables.embeddings(spark, Sf0001)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      sqrt(normSq(col("embedding"))).as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      sqrt(normSq(col("embedding"))).as("nb"))
    val exact = a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("score", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("score") >= SimilarityOps.NearDupThreshold)
      .select(col("vec_a"), col("vec_b"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = SimilarityOps.embeddingNearDup(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every reported pair is true and exactly re-ranked (score identical)
    lsh.foreach { case (k, s) => assert(exact(k) === s) }
    // candidate recall: 8 tables x 4 planes gives P(all-miss) ~ 0.21 per
    // true pair at t=0.45 — require well above a coin flip, and that the
    // approximation actually finds most of the (7-pair) truth set
    assert(exact.nonEmpty)
    assert(lsh.size.toDouble / exact.size >= 0.7,
      s"near-dup recall ${lsh.size}/${exact.size} below floor")
  }

  test("bucketed co-located join: zero shuffle exchanges, rows match the plain join") {
    import org.apache.spark.sql.functions.col
    val o = Tables.orders(spark, Sf0001).select(col("o_orderkey").as("orderkey"), col("o_totalprice"))
    val l = Tables.lineitem(spark, Sf0001).select(col("l_orderkey").as("orderkey"), col("l_quantity"))
    graft.sources.Bucketed.writeBucketed(o, "orders_b", "orderkey", 4)
    graft.sources.Bucketed.writeBucketed(l, "lineitem_b", "orderkey", 4)
    val bcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the non-broadcast path: co-location, not a small table,
      // must be what removes the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = graft.sources.Bucketed.colocatedJoin(spark, "orders_b", "lineitem_b", "orderkey")
      val got = j.collect().length
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      val want = o.join(l, Seq("orderkey")).count()
      assert(got.toLong === want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcastBefore)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("salted equi-join is row-identical to the plain join") {
    val o = Tables.orders(spark, Sf0001).withColumnRenamed("o_custkey", "custkey")
    val c = Tables.customer(spark, Sf0001).withColumnRenamed("c_custkey", "custkey")
    val p2 = o.join(c, Seq("custkey")).select("o_orderkey", "custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val salted = Skew.saltedEquiJoin(o, c, "custkey", saltBuckets = 8)
      .select("o_orderkey", "custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(salted.toSeq === p2.toSeq)
  }

  test("salted aggregation equals direct aggregation") {
    val direct = Tables.orders(spark, Sf0001)
      .groupBy(org.apache.spark.sql.functions.col("o_custkey"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedSumByKey(Tables.orders(spark, Sf0001), "o_custkey", "o_totalprice", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(salted === direct)
  }

  test("frame sampling: frame indices follow the stride, fingerprints unique per media") {
    val rows = MultimodalOps.frameSample(spark, Sf0001).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val idx = g.map(_.getLong(1)).sorted
      assert(idx.head === 0L)
      idx.sliding(2).foreach { case Array(a, b) => assert(b - a === 2); case _ => }
      assert(g.map(_.getString(2)).distinct.length === g.length)
    }
  }

  test("binned range join == directly-stated range join, zero-click purchases kept") {
    val binned = EventOps.clicksBeforePurchase(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // direct form: correlated count per purchase (small data only —
    // this is exactly the plan shape the binned operator avoids)
    val ev = Tables.events(spark, Sf0001)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("pid"), expr("ts DIV 1000").as("p_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), expr("ts DIV 1000").as("c_us"))
    val direct = p.join(c,
        col("pu") === col("cu") && col("c_us") <= col("p_us") &&
          col("c_us") > col("p_us") - 3600000000L, "left")
      .groupBy(col("pu"), col("pid"))
      .agg(sum(when(col("c_us").isNotNull, 1L).otherwise(0L)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(binned === direct)
    // the left join must keep purchases with no qualifying click
    assert(binned.values.exists(_ == 0L))
    assert(binned.values.exists(_ > 0L))
  }

  test("pivot matrix row/column sums equal the unpivoted totals") {
    val rows = EventOps.pivotDaily(spark, Sf0001).collect()
    val pivotTotal = rows.map(r => (1 to 5).map(r.getLong).sum).sum
    val evTotal = Tables.events(spark, Sf0001)
      .filter(col("event_type").isin(EventOps.EventTypes: _*)).count()
    assert(pivotTotal === evTotal)
    // one row per day present in the data, no null-padding rows
    val nDays = Tables.events(spark, Sf0001)
      .select(expr("ts DIV 86400000000000")).distinct().count()
    assert(rows.length.toLong === nDays)
  }

  test("grouping sets: each set's rows re-aggregate to the grand total") {
    val rows = RelationalOps.groupingSetsReturns(spark, Sf0001).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2), r.getLong(3)))
    val total = Tables.lineitem(spark, Sf0001).count()
    // gid 1 = (l_returnflag), gid 2 = (l_linestatus), gid 3 = ()
    assert(rows.filter(_._3 == 1).map(_._4).sum === total)
    assert(rows.filter(_._3 == 2).map(_._4).sum === total)
    assert(rows.filter(_._3 == 3).map(_._4) === Seq(total))
    // grouping columns are NULL exactly where the set omits them
    rows.foreach { case (rf, ls, gid, _) =>
      assert(rf.isDefined === (gid == 1))
      assert(ls.isDefined === (gid == 2))
    }
  }

  test("median/mode: median splits each group in half, mode has the max count") {
    val byStatus = Tables.orders(spark, Sf0001).collect()
      .groupBy(_.getString(2))
    RelationalOps.medianModeOrders(spark, Sf0001).collect().foreach { r =>
      val (status, med, mode) = (r.getString(0), r.getDouble(1), r.getString(3))
      val prices = byStatus(status).map(_.getDouble(3)).sorted
      assert(prices.count(_ <= med) >= prices.length / 2)
      assert(prices.count(_ >= med) >= prices.length / 2)
      val freq = byStatus(status).groupBy(_.getString(5)).view.mapValues(_.length)
      assert(freq(mode) === freq.values.max)
      // deterministic tiebreak: min priority among the max-count ones
      assert(mode === freq.filter(_._2 == freq.values.max).keys.min)
    }
  }

  test("RANGE-frame rolling sum covers exactly the trailing 7-day value window") {
    val rows = RelationalOps.rolling7dSpend(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // independent form of the same window: a banded self-join sum
    val src = Tables.orders(spark, Sf0001).filter(col("o_custkey") < 100)
      .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
        expr("unix_timestamp(o_orderdate) DIV 86400").as("d"), col("o_totalprice").as("p"))
    val expected = src.as("a").join(src.as("b"),
        col("a.ck") === col("b.ck") && col("b.d") >= col("a.d") - 6 && col("b.d") <= col("a.d"))
      .groupBy(col("a.ck"), col("a.ok"))
      .agg(sum(col("b.p").cast(org.apache.spark.sql.types.DecimalType(38, 10))).cast("double").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { case (cust, ok, _, spend) => assert(spend === expected((cust, ok))) }
  }

  test("EXCEPT ALL: net counts equal per-customer count differences, floored at zero") {
    val ord = Tables.orders(spark, Sf0001)
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr")).collect()
    def cnts(yr: Int) = ord
      .filter(_.getInt(1) == yr)
      .groupBy(_.getLong(0)).view.mapValues(_.length.toLong).toMap
    val c95 = cnts(1995); val c00 = cnts(2000)
    val expected = c95.map { case (k, n) => k -> (n - c00.getOrElse(k, 0L)) }
      .filter(_._2 > 0)
    val got = RelationalOps.exceptAllBuyers(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected.toMap)
  }

  test("repetition stats match a driver-side recomputation; keep filter is non-vacuous") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.repetitionStats(spark, Sf0001).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .toMap
    assert(got.keySet === docs.keySet)
    docs.foreach { case (id, text) =>
      val toks = text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
      val counts = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val nWords = toks.length.toLong
      val runs = if (toks.isEmpty) 0L else {
        var best = 1L; var cur = 1L
        toks.sliding(2).foreach { case Array(a, b) =>
          cur = if (a == b) cur + 1 else 1; best = math.max(best, cur)
        }
        best
      }
      val (gw, gd, gtw, gtn, gmr, gkeep) = got(id)
      assert(gw === nWords)
      assert(gd === counts.size.toLong)
      val maxC = counts.values.max
      assert(gtn === maxC)
      assert(gtw === counts.filter(_._2 == maxC).keys.min)
      assert(gmr === runs)
      assert(gkeep === (nWords >= 20 && gtn * 5 <= nWords && gd * 5 >= nWords && gmr <= 2))
    }
    val keeps = got.values.map(_._6).toSeq
    assert(keeps.contains(true) && keeps.contains(false)) // filter actually splits
  }

  test("domain mix: per-source sample counts match the md5 coin, rates follow weights") {
    def md5mod(s: String, m: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % m
    }
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.groupBy(_._2).map { case (src, g) =>
      val w = md5mod(src, 80) + 20
      (src, w) -> (g.length.toLong, g.count(d => md5mod(d._1.toString, 100) < w).toLong)
    }
    val got = TextOps.domainMix(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got === expected.toMap)
    // sampling must actually drop something somewhere, but never all
    assert(got.exists { case ((_, _), (n, s)) => s < n })
    assert(got.forall { case ((_, _), (_, s)) => s > 0 })
  }

  test("label centroids: quantized means match a driver-side recomputation") {
    val vecs = Tables.embeddings(spark, Sf0001).collect()
      .map(r => (r.getInt(2), r.getSeq[Float](1)))
    val got = SimilarityOps.labelCentroids(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    vecs.groupBy(_._1).foreach { case (label, g) =>
      val n = g.length
      val sums = Array.tabulate(64) { d =>
        g.map(v => math.round(v._2(d).toDouble * 1000000.0)).sum
      }
      val means = sums.map(s => s.toDouble / 1000000.0 / n)
      val norm = math.sqrt(means.foldLeft(0.0)((a, x) => a + x * x))
      val (gn, gnorm, gtop) = got(label.toLong)
      assert(gn === n.toLong)
      assert(gnorm === norm)
      val top = sums.zipWithIndex.maxBy { case (s, i) => (math.abs(s), -i) }._2
      assert(gtop === top.toLong)
    }
  }

  test("vocab nucleus: contiguous ranks, non-increasing counts, 90% mass covered") {
    val rows = TextOps.vocabNucleus(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._3)
    assert(rows.nonEmpty)
    assert(rows.map(_._3).toSeq === (1L to rows.length).toSeq)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 >= b._2) // frequency-ordered
        assert(a._4 < b._4) // cumulative share strictly grows
      case _ =>
    }
    // the first EXCLUDED token starts at >= 90% mass, so the last kept
    // row's cumulative share must reach it
    assert(rows.last._4 >= 0.9)
    // driver recompute of the full ordering confirms the prefix rule
    val toks = Tables.documents(spark, Sf0001).select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty))
    val counts = toks.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }
    val total = counts.map(_._2).sum
    var cum = 0L
    val expected = counts.takeWhile { case (_, c) => val keep = cum * 10 < total * 9; cum += c; keep }
    assert(rows.map(t => (t._1, t._2)).toSeq === expected)
  }

  test("bigram transitions: top-3 per head, probabilities from full head mass") {
    val toks = Tables.documents(spark, Sf0001).select("text").collect()
      .map(_.getString(0).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq)
    val bigrams = toks.flatMap(ts => ts.zip(ts.drop(1)))
    val counts = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val headTotals = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expected = counts.toSeq
      .groupBy(_._1._1)
      .flatMap { case (head, g) =>
        g.sortBy { case ((_, nxt), c) => (-c, nxt) }.take(3).zipWithIndex.map {
          case (((h, nxt), c), i) =>
            (h, nxt) -> (c, (i + 1).toLong, c.toDouble / headTotals(head).toDouble)
        }
      }
    val got = TextOps.bigramTransitions(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got === expected)
  }

  test("stats_corr: correlation recomputes from its own moment sums, |corr| <= 1") {
    val rows = RelationalOps.corrStats(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1).toDouble
      val (sq, sp, sqp, sq2, sp2) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      val corr = (n * sqp - sq * sp) /
        (math.sqrt(n * sq2 - sq * sq) * math.sqrt(n * sp2 - sp * sp))
      val beta = (n * sqp - sq * sp) / (n * sq2 - sq * sq)
      assert(r.getDouble(7) === corr)
      assert(r.getDouble(8) === beta)
      assert(math.abs(corr) <= 1.0)
    }
  }

  test("price histogram: buckets partition all orders, bounds respected") {
    val rows = RelationalOps.priceHistogram(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3), r.getDouble(4))).toMap
    val nOrders = Tables.orders(spark, Sf0001).count()
    assert(rows.values.map(_._1).sum === nOrders)
    rows.foreach { case (b, (_, mn, mx)) =>
      assert(b >= 0 && b <= 9)
      assert(mn >= b * 50000.0)
      if (b < 9) assert(mx < (b + 1) * 50000.0)
      assert(mn <= mx)
    }
  }

  test("rank suite: ntile buckets balanced, percent_rank/cume_dist exact per partition") {
    val byPrio = RelationalOps.rankSuite(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getDouble(6), r.getDouble(7)))
      .groupBy(_._1)
    assert(byPrio.nonEmpty)
    byPrio.foreach { case (_, rows) =>
      val n = rows.length
      val sorted = rows.sortBy(r => (-r._3, r._2)) // totalprice desc, orderkey asc
      // ntile: bucket sizes differ by at most 1 and are non-increasing
      val sizes = sorted.groupBy(_._4).toSeq.sortBy(_._1).map(_._2.length)
      assert(sizes.max - sizes.min <= 1)
      assert(sizes == sizes.sorted.reverse)
      sorted.zipWithIndex.foreach { case (r, i) =>
        // unique sort key -> rank == dense-position arithmetic is exact
        assert(r._5 === (i + 1).toLong) // rank (no ties: price+key unique)
        assert(r._7 === (if (n == 1) 0.0 else i.toDouble / (n - 1))) // percent_rank
        assert(r._8 === (i + 1).toDouble / n) // cume_dist
      }
    }
  }

  test("typo pairs: symmetric-free, true edit distance, nothing missed at distance 1") {
    val vocab = Tables.documents(spark, Sf0001).select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split("[^\\p{L}]+").filter(_.length >= 4))
      .distinct.sorted
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      i <- vocab.indices; j <- (i + 1) until vocab.length
      d = lev(vocab(i), vocab(j)) if d >= 1 && d <= 2
    } yield (vocab(i), vocab(j)) -> d.toLong).toMap
    val got = TextOps.typoPairs(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expected)
    assert(got.nonEmpty) // the 40-word corpus vocabulary has close pairs
  }

  test("json props stats: totals cover every event, min <= max") {
    val rows = EventOps.jsonPropsStats(spark, Sf0001).collect()
    val nEvents = Tables.events(spark, Sf0001).count()
    assert(rows.map(_.getLong(1)).sum === nEvents)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // n_with_k <= n_events
      assert(r.getLong(4) <= r.getLong(5)) // min_k <= max_k
      assert(r.getLong(6) > 0L) // n_distinct_k
    }
  }

  test("latest snapshot: one row per user, true argmax, versions cover the changelog") {
    val events = Tables.events(spark, Sf0001)
      .selectExpr("user_id", "event_id", "ts DIV 1000 as ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rows = EventOps.latestSnapshot(spark, Sf0001).collect()
    assert(rows.length === events.map(_._1).distinct.length)
    assert(rows.map(_.getLong(5)).sum === events.length) // n_versions covers all rows
    val byUser = events.groupBy(_._1)
    rows.foreach { r =>
      val latest = byUser(r.getLong(0)).maxBy(e => (e._3, e._2))
      assert(r.getLong(1) === latest._2) // latest_event_id
      assert(r.getLong(2) === latest._3) // latest_us
    }
  }

  test("funnel stages: firsts are ordered, stage counts the reached prefix") {
    EventOps.funnelStages(spark, Sf0001).collect().foreach { r =>
      val (v, c, p) = (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))
      val stage = r.getLong(4)
      assert(stage === Seq(v, c, p).takeWhile(_.isDefined).length)
      // each reached step happens at-or-after the one before it
      if (c.isDefined) assert(c.get.asInstanceOf[Long] >= v.get.asInstanceOf[Long])
      if (p.isDefined) assert(p.get.asInstanceOf[Long] >= c.get.asInstanceOf[Long])
    }
  }

  test("scd2 history: intervals chain gaplessly, exactly one open version per user") {
    val rows = EventOps.scd2History(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(5), r.getLong(2),
        if (r.isNullAt(6)) None else Some(r.getLong(6)), r.getBoolean(7)))
    rows.groupBy(_._1).foreach { case (_, vs) =>
      val ordered = vs.sortBy(_._2)
      assert(ordered.map(_._2) === (1L to vs.length).toSeq) // contiguous versions
      ordered.sliding(2).foreach {
        case Array((_, _, _, to, cur), (_, _, from2, _, _)) =>
          assert(to === Some(from2)) // valid_to = successor's valid_from
          assert(!cur)
        case _ => ()
      }
      assert(ordered.last._4.isEmpty && ordered.last._5) // one open current row
    }
  }

  test("decontaminate matches a driver-side 8-gram intersection; non-vacuous") {
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bucket(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(15), 16) % 100).toInt
    }
    def grams(text: String): Set[String] = {
      val toks = text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
      toks.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet
    }
    val train = docs.filter(d => bucket(d._1) < 80).map(d => d._1 -> grams(d._2))
    val test0 = docs.filter(d => bucket(d._1) >= 90).map(d => d._1 -> grams(d._2))
    val expected = train.flatMap { case (tid, g) =>
      val hits = test0.filter(_._2.exists(g.contains))
      if (hits.isEmpty) None
      else Some(tid -> (
        hits.flatMap(_._2.filter(g.contains)).distinct.length.toLong,
        hits.length.toLong, hits.map(_._1).min))
    }.toMap
    val got = DedupOps.decontaminate(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("seq packing matches a driver-side greedy packer; budget respected") {
    val perDoc = Tables.documents(spark, Sf0001).select("doc_id", "source", "text").collect()
      .map { r =>
        val n = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]".r
          .findAllIn(r.getString(2).replaceAll("[^ -~]", " ")).length.toLong
        (r.getString(1), r.getLong(0), n)
      }
    val expected = perDoc.groupBy(_._1).flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._2).map { case (_, id, n) =>
        val bin = cum / TextOps.PackBudget; cum += n; (src, bin, id, n)
      }.groupBy(t => (t._1, t._2)).map { case ((s, b), xs) =>
        (s, b) -> (xs.length.toLong, xs.map(_._4).sum, xs.map(_._3).min, xs.map(_._3).max)
      }
    }
    val got = TextOps.seqPacking(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got === expected.toMap)
    // a bin only exceeds the budget via its own last doc (greedy overflow)
    got.foreach { case ((s, b), (nDocs, tokens, _, _)) =>
      if (tokens > TextOps.PackBudget) assert(nDocs >= 1)
      else assert(tokens <= TextOps.PackBudget)
    }
  }

  test("q4 late orders: priorities partition the EXISTS set, total matches recompute") {
    val late = Tables.lineitem(spark, Sf0001)
      .join(Tables.orders(spark, Sf0001),
        col("l_orderkey") === col("o_orderkey") &&
          unix_timestamp(col("l_shipdate")) > unix_timestamp(col("o_orderdate")) + 60L * 86400L)
      .select("o_orderkey").distinct().count()
    val rows = RelationalOps.latePriorityOrders(spark, Sf0001).collect()
    assert(rows.map(_.getLong(1)).sum === late)
    assert(rows.nonEmpty)
  }

  test("dq checks: all six checks present, violations bounded by totals, dirty checks fire") {
    val rows = RelationalOps.dqChecks(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet === Set(
      "customer_negative_balance", "supplier_negative_balance", "lineitem_discount_range",
      "document_nchars_mismatch", "lineitem_orphan_order", "order_orphan_customer"))
    rows.values.foreach { case (v, t) => assert(v >= 0 && v <= t && t > 0) }
    // the synthetic corpus is referentially intact but has dirty balances
    assert(rows("customer_negative_balance")._1 > 0)
    assert(rows("lineitem_orphan_order")._1 === 0)
  }

  test("salted join == plain join, and the exchange really keys on the salt") {
    val li = Tables.lineitem(spark, Sf0001)
      .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
    val sup = Tables.supplier(spark, Sf0001)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    val salted = graft.operators.Skew.saltedEquiJoin(li, sup, "suppkey", saltBuckets = 4)
    val plain = li.join(sup, "suppkey")
    assert(salted.count() === plain.count())
    val a = salted.groupBy("s_nationkey").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val b = plain.groupBy("s_nationkey").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(a === b)
    // the join condition carries the salt column -> hot keys split 4 ways
    assert(salted.queryExecution.executedPlan.toString.contains("__salt"))
  }

  test("stratified sample: exactly k per source by md5 order, group-limit plan") {
    val df = TextOps.stratifiedSample(spark, Sf0001)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val perSource = Tables.documents(spark, Sf0001).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (src, xs) =>
      assert(xs.length === math.min(TextOps.StratifiedK.toLong, perSource(src)))
      assert(xs.map(_._2).sorted.toSeq === (1L to xs.length).toSeq)
    }
    // deterministic: the sample is the md5-least docs of each source
    def h(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    val expected = Tables.documents(spark, Sf0001).select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1).toSeq
      .flatMap { case (src, ds) =>
        ds.map(_._2).sortBy(id => (h(id), id)).take(TextOps.StratifiedK).map(src -> _).toSeq
      }.toSet
    assert(rows.map(r => (r._1, r._3)).toSet === expected)
    // rank<=k plans as WindowGroupLimit (map-side partial top-k)
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("space_saving: heavy-hitter guarantees hold saturated, exact unsaturated") {
    import spark.implicits._
    // skewed stream: a:50 b:30 c:20 + 20 singletons, deterministic shuffle
    val tokens = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c") ++
      (0 until 20).map(i => s"u$i")).sortBy(t => (t.hashCode * 2654435761L) & 0xffffffffL)
    val truth = tokens.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val n = tokens.length.toLong
    for ((parts, cap) <- Seq((1, 4), (8, 4), (1, 64), (8, 64))) {
      val rows = tokens.toDF("token").repartition(parts)
        .selectExpr("space_saving(token, " + cap + ") as sk")
        .selectExpr("inline(sk)").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(rows.length <= cap)
      // every key with true count > N/cap survives in the sketch
      truth.filter(_._2 > n / cap).keys.foreach { k =>
        assert(rows.exists(_._1 == k), s"lost heavy hitter $k (parts=$parts cap=$cap)")
      }
      // count brackets the truth: cnt - err <= true <= cnt
      rows.foreach { case (k, cnt, err) =>
        val t = truth.getOrElse(k, 0L)
        assert(t <= cnt && cnt - err <= t, s"bounds broken for $k (parts=$parts cap=$cap)")
      }
      if (cap >= truth.size) { // unsaturated -> exact, err = 0
        assert(rows.map(r => r._1 -> r._2).toMap === truth)
        assert(rows.forall(_._3 === 0L))
      }
    }
  }

  test("heavy hitters query equals the exact top-25 with zero error") {
    val exact = Tables.documents(spark, Sf0001).select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty))
      .groupBy(identity).map { case (k, v) => (k, v.length.toLong) }.toSeq
      .sortBy { case (k, c) => (-c, k) }.take(25)
    val got = TextOps.heavyHitters(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.map(r => (r._1, r._2)).toSeq === exact)
    assert(got.forall(_._3 === 0L))
  }

  test("hll user reach: certificates true, exact counts match a recompute") {
    val rows = EventOps.hllUserReach(spark, Sf0001).collect()
    val exact = Tables.events(spark, Sf0001)
      .selectExpr("event_type", "user_id").distinct().collect()
      .groupBy(_.getString(0)).map { case (k, v) => k -> v.length.toLong }
    assert(rows.map(_.getString(0)).toSet === exact.keySet)
    rows.foreach { r =>
      assert(r.getLong(2) === exact(r.getString(0)))
      assert(r.getBoolean(3), s"hll estimate off for ${r.getString(0)}")
    }
  }

  test("q19 disjunctive revenue: per-brand sums match a driver-side filter") {
    val rows = Tables.lineitem(spark, Sf0001)
      .join(Tables.part(spark, Sf0001), col("l_partkey") === col("p_partkey"))
      .select("p_brand", "p_size", "l_quantity", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    def hit(b: String, s: Int, q: Double): Boolean =
      (b == "Brand#3" && s >= 1 && s <= 15 && q >= 1 && q <= 20) ||
        (b == "Brand#12" && s >= 10 && s <= 30 && q >= 10 && q <= 30) ||
        (b == "Brand#23" && s >= 20 && s <= 50 && q >= 20 && q <= 40)
    val expected = rows.filter(r => hit(r._1, r._2, r._3)).groupBy(_._1).map {
      case (b, xs) => b -> (xs.length.toLong,
        xs.map(x => BigDecimal(x._4 * (1.0 - x._5))).sum)
    }
    val got = RelationalOps.disjunctivePredicateRevenue(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (b, (n, rev)) =>
      assert(got(b)._1 === n)
      assert(math.abs(got(b)._2 - rev.toDouble) < 1e-6)
    }
  }

  test("q21 waiting suppliers matches a driver-side sole-late-supplier recompute") {
    val lines = Tables.lineitem(spark, Sf0001)
      .join(Tables.orders(spark, Sf0001), col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_orderkey"), col("l_suppkey"),
        (unix_timestamp(col("l_shipdate")) >
          unix_timestamp(col("o_orderdate")) + 60L * 86400L).as("late"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val expected = lines.groupBy(_._1).values.flatMap { ls =>
      val supps = ls.map(_._2).toSet
      val lateSupps = ls.filter(_._3).map(_._2).toSet
      if (supps.size >= 2 && lateSupps.size == 1) Some(lateSupps.head) else None
    }.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
    val got = RelationalOps.waitingSuppliers(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("q13 distribution: counts every customer once, weights to the filtered orders") {
    val rows = RelationalOps.orderCountDistribution(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nCust = Tables.customer(spark, Sf0001).count()
    val nOrd = Tables.orders(spark, Sf0001)
      .filter(col("o_orderpriority") =!= "1-URGENT").count()
    assert(rows.values.sum === nCust)
    assert(rows.map { case (k, n) => k * n }.sum === nOrd)
  }

  test("unpivot of the daily pivot round-trips to the long-form aggregate") {
    val long = EventOps.unpivotDaily(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val direct = Tables.events(spark, Sf0001)
      .groupBy(expr("ts DIV 86400000000000").as("d"), col("event_type"))
      .count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // every observed (day, type) count survives the pivot→unpivot trip
    direct.foreach { case (k, n) => assert(long(k) === n) }
    // and the melted matrix is dense: |days| × |types|, zeros included
    val days = direct.keys.map(_._1).toSet
    assert(long.size === days.size * EventOps.EventTypes.size)
    assert(long.values.sum === direct.values.sum)
  }

  test("q18 large orders: one row per qualifying order, totals match a recompute") {
    val perOrder = Tables.lineitem(spark, Sf0001)
      .select("l_orderkey", "l_quantity").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(x => BigDecimal(x._2)).sum).toMap
    val expected = perOrder.filter(_._2 > 250).keySet
    val got = RelationalOps.largeQuantityOrders(spark, Sf0001).collect()
      .map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(got.keySet === expected)
    got.foreach { case (ok, qty) =>
      assert(qty > 250.0)
      assert(math.abs(qty - perOrder(ok).toDouble) < 1e-9)
    }
    assert(got.nonEmpty)
  }

  test("oov rate: matches a driver-side nucleus recompute, cut is non-vacuous") {
    val docToks = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), TextOps.tokens(lower(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val counts = docToks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = counts.values.sum
    // nucleus: smallest (cnt desc, token asc) prefix holding 90% mass
    var cum = 0L
    val nucleus = counts.toSeq.sortBy { case (t, c) => (-c, t) }.takeWhile { case (_, c) =>
      val before = cum; cum += c; before * 10 < total * 9
    }.map(_._1).toSet
    assert(nucleus.size < counts.size) // something is actually out of vocab
    val expected = docToks.map { case (id, ts) =>
      id -> (ts.length.toLong, ts.count(t => !nucleus.contains(t)).toLong)
    }.toMap
    val got = TextOps.oovRate(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected)
    assert(got.values.map(_._2).sum > 0) // OOV tokens exist corpus-wide
  }

  test("pack offsets: manifest agrees with a driver-side greedy packer") {
    val toks = Tables.documents(spark, Sf0001)
      .selectExpr("doc_id", "source",
        "CAST(size(regexp_extract_all(regexp_replace(text, '[^ -~]', ' '), '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', 0)) AS LONG) AS n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = toks.groupBy(_._2).flatMap { case (_, docs) =>
      var cum = 0L
      docs.sortBy(_._1).toSeq.map { case (id, _, n) =>
        val start = cum; cum += n
        val bin = start / TextOps.PackBudget
        id -> (bin, start - bin * TextOps.PackBudget, n)
      }
    }
    val got = TextOps.packOffsets(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === expected)
    // every doc STARTS inside its bin's budget window
    got.values.foreach { case (_, off, _) =>
      assert(off >= 0 && off < TextOps.PackBudget)
    }
  }

  test("vec quantize: exact per-vector recompute; error bounded by the quant step") {
    val vecs = Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val got = SimilarityOps.vecQuantize(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    vecs.foreach { case (id, xs) =>
      val (nDims, maxAbs, scale, err) = got(id)
      assert(nDims === xs.length.toLong)
      assert(maxAbs === xs.map(math.abs).foldLeft(0.0)(math.max))
      assert(scale === (if (maxAbs > 0) 127.0 / maxAbs else 1.0))
      val expErr = xs.foldLeft(0.0) { (a, v) =>
        val q = BigDecimal(v * scale).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
        a + math.abs(v - q / scale)
      }
      assert(err === expErr)
      // symmetric int8: per-element error < half a quant step
      assert(err < xs.length * (0.5 / scale) + 1e-12)
      assert(err > 0.0)
    }
  }

  test("cluster keepers: one survivor per cluster, and it is the best-quality doc") {
    val rows = GraphOps.clusterKeepers(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (_, cluster) =>
      assert(cluster.count(_._5) === 1) // exactly one keeper
      val keeper = cluster.find(_._5).get
      val best = cluster.minBy(d => (-d._4, d._1)) // max quality, min id
      assert(keeper._1 === best._1)
      assert(cluster.map(_._3).distinct.length === 1) // size is cluster-wide
      assert(cluster.length === cluster.head._3) // and counts the members
    }
    // survivorship differs from naive min-id somewhere, or the quality
    // policy is indistinguishable from the default
    assert(rows.exists(r => r._5 && r._1 != r._2))
  }

  test("q20 excess suppliers: integer-exact share recompute matches") {
    val lines = Tables.lineitem(spark, Sf0001)
      .select("l_partkey", "l_suppkey", "l_quantity").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100.0)))
    val perPS = lines.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sum).toMap
    val perPart = lines.groupBy(_._1).view
      .mapValues(ls => (ls.map(_._3).sum, ls.map(_._2).distinct.size.toLong)).toMap
    val expected = perPS.toSeq.collect {
      case ((pk, sk), sq) if sq * perPart(pk)._2 > perPart(pk)._1 * 2 => sk
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = RelationalOps.excessShareSuppliers(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.view.mapValues(_._1).toMap === expected)
    got.values.foreach { case (_, share) => assert(share > 0.0 && share <= 1.0) }
    assert(got.nonEmpty)
  }

  test("hier rollup: root covers everyone, sizes obey the tree recurrence") {
    val rows = RelationalOps.hierRollup(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // ids start at 0; id 0 is parentless (0 DIV 2 = 0, recursion
    // guard node > 1), so node 1 roots every customer with id >= 1
    val nCust = Tables.customer(spark, Sf0001)
      .filter(col("c_custkey") >= 1).count()
    assert(rows(1L)._1 === nCust)
    assert(rows.get(0L).forall(_._1 === 1L)) // id 0 is its own singleton
    // internal nodes: subtree(n) = self + subtree(2n) + subtree(2n+1)
    // (nodes < 32 have both children inside the reported node < 64 cut)
    (1L until 32L).foreach { n =>
      val self = if (n <= nCust) 1L else 0L
      val expected = self + rows.get(2 * n).map(_._1).getOrElse(0L) +
        rows.get(2 * n + 1).map(_._1).getOrElse(0L)
      assert(rows.get(n).map(_._1).getOrElse(0L) === expected, s"node $n")
    }
  }

  test("budget select: greedy per-lang recompute matches, the budget actually cuts") {
    val scored = TextOps.qualityScore(spark, Sf0001)
      .join(Tables.documents(spark, Sf0001).select("doc_id", "lang", "n_chars"), "doc_id")
      .selectExpr("doc_id", "lang", "quality",
        "CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS est")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    val expected = scored.groupBy(_._2).map { case (lang, docs) =>
      val ordered = docs.sortBy(d => (-d._3, d._1))
      var cum = 0L
      val kept = ordered.takeWhile { d => cum += d._4; cum <= TextOps.BudgetTokensPerLang }
      lang -> (kept.length.toLong, kept.map(_._4).sum, kept.map(_._3).min)
    }
    val got = TextOps.budgetSelect(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got === expected)
    // the budget must exclude someone in every language, or the op is vacuous
    val perLang = scored.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    got.foreach { case (lang, (nKept, toks, _)) =>
      assert(nKept < perLang(lang))
      assert(toks <= TextOps.BudgetTokensPerLang)
    }
  }

  test("lm doc score: exact fixed-point recompute of the bigram model scoring") {
    val docToks = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), TextOps.tokens(lower(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val bigrams = docToks.flatMap { case (id, ts) => ts.sliding(2).collect {
      case scala.collection.Seq(a, b) => (id, a, b) } }
    val cnt = bigrams.groupBy(t => (t._2, t._3)).view.mapValues(_.length.toLong).toMap
    val headTotal = bigrams.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = bigrams.groupBy(_._1).map { case (id, bs) =>
      val ps = bs.map { case (_, h, n) => cnt((h, n)).toDouble / headTotal(h).toDouble }
      id -> (bs.length.toLong, ps.map(p => math.round(p * 1e9)).sum, ps.min)
    }
    val got = TextOps.lmDocScore(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(got === expected)
    // model probabilities are genuine: some doc scores below 1.0
    assert(got.values.exists(_._3 < 1.0))
  }

  test("chunk windows: stride/coverage invariants and exact per-doc recompute") {
    val got = TextOps.chunkWindows(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nToks = Tables.documents(spark, Sf0001)
      .select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), t => length(t) > 0)).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = got.groupBy(_._1)
    assert(byDoc.keySet === nToks.keySet)
    byDoc.foreach { case (doc, chunks) =>
      val n = nToks(doc)
      val starts = chunks.sortBy(_._2).map(_._3)
      // windows start at 0 and advance by exactly one stride
      assert(starts.head === 0L)
      starts.sliding(2).foreach {
        case Array(a, b) => assert(b - a === TextOps.ChunkStride.toLong)
        case _           =>
      }
      // every window is non-empty, within bounds, and the last one
      // reaches the end of the doc (full coverage, no dead windows)
      chunks.foreach { case (_, idx, s, len) =>
        assert(idx === s / TextOps.ChunkStride)
        assert(len === math.min(TextOps.ChunkLen.toLong, n - s))
        assert(len > 0 && s + len <= n)
      }
      assert(chunks.map(c => c._3 + c._4).max === n)
      // and no extra window would add new tokens
      assert(starts.last + TextOps.ChunkLen >= n)
    }
  }

  test("session_window agg: differential vs gaps-and-islands sessionize") {
    // the two operators agree everywhere except a gap of EXACTLY the
    // session timeout (pinned by the boundary test below); the random
    // ns test data has none, so the session sets must match 1:1
    val viaBuiltin = EventOps.sessionWindowAgg(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet // (user, start, n)
    val viaIslands = EventOps.sessionize(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(2))).toSet // user, start_us, n_events
    assert(viaBuiltin === viaIslands)
    // window end = last event + gap, so every window spans >= the gap
    EventOps.sessionWindowAgg(spark, Sf001).collect().foreach { r =>
      assert(r.getLong(2) - r.getLong(1) >= 1800000000L)
    }
  }

  test("session_window boundary: an exact 30-min gap merges; 30 min + 1 us splits") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess").toString
    val t0 = 1700000000000000000L // ns
    val gapNs = 1800L * 1000 * 1000 * 1000
    Seq(
      (1L, t0, 7L, "click", 1.0, "{}"),
      (2L, t0 + gapNs, 7L, "click", 1.0, "{}"),                  // exactly at window end -> merges
      (3L, t0 + gapNs + gapNs + 1000L, 7L, "click", 1.0, "{}")   // 1 us over -> new session
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val sessions = EventOps.sessionWindowAgg(spark, tmp).collect()
      .map(r => (r.getLong(1), r.getLong(3))).sortBy(_._1)
    assert(sessions.length === 2)
    assert(sessions(0)._2 === 2L) // first and second merged at the exact boundary
    assert(sessions(1)._2 === 1L) // the strictly-over gap starts fresh
  }

  test("order gaps: lag/lead duality, frame endpoints, dense index") {
    val rows = RelationalOps.orderGaps(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        r.getDouble(7), r.getDouble(8)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, cust) =>
      val byIdx = cust.sortBy(_._5)
      // idx is dense 1..n in (epoch_day, orderkey) order
      assert(byIdx.map(_._5).toSeq === (1L to cust.length).toSeq)
      assert(byIdx.map(r => (r._3, r._2)).toSeq === cust.map(r => (r._3, r._2)).sorted.toSeq)
      // my gap to the previous order IS the previous order's gap to me
      byIdx.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._6 === Some(b._3 - a._3))
          assert(a._7 === Some(b._3 - a._3))
        case _ =>
      }
      assert(byIdx.head._6 === None && byIdx.last._7 === None)
      // first/last frame endpoints are the per-customer constants
      cust.foreach { r =>
        assert(r._8 === byIdx.head._4)
        assert(r._9 === byIdx.last._4)
      }
    }
  }

  test("pmi pairs: exact driver recompute of counts, lift, and top-k order") {
    val docs = Tables.documents(spark, Sf0001).select("text").collect().map(_.getString(0))
    val bigrams = docs.flatMap { t =>
      val toks = t.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
      toks.sliding(2).filter(_.length == 2).map(a => (a(0), a(1)))
    }
    val nAb = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val uni = (bigrams.map(_._1) ++ bigrams.map(_._2))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val tPos = 2L * bigrams.length
    val expected = nAb.toSeq
      .filter(_._2 >= TextOps.PmiMinCount)
      .map { case ((a, b), c) =>
        (a, b, c, uni(a), uni(b), (c * tPos).toDouble / (uni(a) * uni(b)).toDouble)
      }
      .sortBy { case (a, b, _, _, _, lift) => (-lift, a, b) }
      .take(TextOps.PmiTopK)
    val got = TextOps.pmiPairs(spark, Sf0001)
      .select("head", "nxt", "n_ab", "n_a", "n_b", "lift").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    assert(got.toSeq === expected)
    assert(got.length === TextOps.PmiTopK)
  }

  test("span dedup: block-count identity and partial-copy sensitivity") {
    import spark.implicits._
    // corpus identity: total blocks = sum over docs of len(toks) / 8
    val totBlocks = DedupOps.spanDedup(spark, Sf0001)
      .agg(sum("n_blocks")).collect()(0).getLong(0)
    val direct = Tables.documents(spark, Sf0001)
      .select((size(TextOps.tokens(lower(col("text")))) / DedupOps.SpanTokens)
        .cast("long").as("nb"))
      .agg(sum("nb")).collect()(0).getLong(0)
    assert(totBlocks === direct)
    // planted partial copy: doc 2 copies 12 of doc 1's 16 blocks.
    // words must be pure letters — the tokenizer drops digits.
    def w(p: Char, i: Int) =
      s"$p${('a' + i % 26).toChar}${('a' + i / 26).toChar}"
    val words = (0 until 128).map(i => w('w', i))
    val a = words.mkString(" ")
    val b = (words.take(96) ++ (0 until 32).map(i => w('x', i))).mkString(" ")
    val c = (0 until 64).map(i => w('y', i)).mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft-span").toString
    Seq((1L, a, "en", "s", a.length.toLong), (2L, b, "en", "s", b.length.toLong),
      (3L, c, "en", "s", c.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = DedupOps.spanDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) === ((16L, 12L, 0.75, false)))
    assert(got(2L) === ((16L, 12L, 0.75, false)))
    assert(got(3L) === ((8L, 0L, 0.0, true)))
  }

  test("pq adc: exhaustive driver recompute of codes, LUT, and top-k") {
    val emb = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sub(v: Array[Float], m: Int) = v.slice(m * 8, m * 8 + 8)
    def d2(a: Array[Float], b: Array[Float]): Double = {
      // same ||a||^2 + ||b||^2 - 2ab shape, each a sequential fold
      def fold(f: Int => Double) = (0 until 8).foldLeft(0.0)((acc, i) => acc + f(i))
      fold(i => a(i).toDouble * a(i).toDouble) +
        fold(i => b(i).toDouble * b(i).toDouble) -
        2.0 * fold(i => a(i).toDouble * b(i).toDouble)
    }
    val codebook = (0 until SimilarityOps.PqCodewords)
      .map(c => c -> (0 until SimilarityOps.PqSubspaces).map(m => sub(emb(c.toLong), m)))
    val codes = emb.map { case (id, v) =>
      id -> (0 until SimilarityOps.PqSubspaces).map { m =>
        codebook.map { case (c, cws) => (d2(sub(v, m), cws(m)), c) }.min._2
      }
    }
    val expected = (0L until SimilarityOps.NumQueries.toLong).flatMap { q =>
      val lut = (0 until SimilarityOps.PqSubspaces).map { m =>
        (0 until SimilarityOps.PqCodewords).map(c =>
          math.round(d2(sub(emb(q), m), codebook(c)._2(m)) * 1e9))
      }
      emb.keys.filter(_ != q).toSeq
        .map { id =>
          (q, id, (0 until SimilarityOps.PqSubspaces).map(m => lut(m)(codes(id)(m))).sum)
        }
        .sortBy { case (_, id, dq) => (dq, id) }
        .take(SimilarityOps.TopK)
        .zipWithIndex
        .map { case ((_, id, dq), i) => (q, id, dq, (i + 1).toLong) }
    }.toSet
    val got = SimilarityOps.pqAdcTopK(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9), r.getLong(3)))
      .toSet
    assert(got === expected)
  }

  test("ewma user value: exact fixed-point driver recompute") {
    val ev = Tables.events(spark, Sf0001)
      .select(col("user_id"), expr("ts DIV 86400000000000").as("day"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = ev.groupBy(_._1).map { case (u, rows) =>
      val lastDay = rows.map(_._2).max
      val score = rows.map { case (_, day, v) =>
        val age = math.min(lastDay - day, 62L)
        math.round(v * 1e9 / (1L << age).toDouble)
      }.sum
      u -> ((rows.length.toLong, lastDay, score))
    }
    val got = EventOps.ewmaUserValue(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    // recency matters: someone's score differs from their plain sum
    val plain = ev.groupBy(_._1).map { case (u, rows) =>
      u -> math.round(rows.map(_._3).sum * 1e9)
    }
    assert(expected.exists { case (u, (_, _, s)) => s != plain(u) })
  }

  test("pagerank referral: exact integer driver recompute of 3 rounds") {
    val nodes = Tables.customer(spark, Sf0001)
      .select("c_custkey").collect().map(_.getLong(0))
    val parent = nodes.filter(_ > 1).map(n => n -> n / 2).toMap
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to GraphOps.PagerankIters) {
      val in = nodes.filter(_ > 1).toSeq
        .groupBy(parent)
        .map { case (p, kids) => p -> kids.map(k => rank(k) * 85 / 100).sum }
      rank = nodes.map(n => n -> (150000L + in.getOrElse(n, 0L))).toMap
    }
    val got = GraphOps.pagerankReferral(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(got.view.mapValues(_._1).toMap === rank)
    // n_children from the same edge set; every rank >= the teleport base
    val kidCount = nodes.filter(_ > 1).groupBy(parent).view.mapValues(_.length.toLong).toMap
    got.foreach { case (n, (r, nc)) =>
      assert(nc === kidCount.getOrElse(n, 0L))
      assert(r >= 150000L)
    }
    // propagation is real: internal nodes outrank childless leaves
    assert(got.values.map(_._1).toSet.size > 1)
  }

  test("native as-of join: differential vs the union+window attribution") {
    // same semantics on tie-free data; both non-empty and identical
    val native = EventOps.purchaseAttributionAsOf(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val window = EventOps.purchaseAttribution(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(native.nonEmpty)
    assert(native === window)
  }

  test("native as-of join: boundary semantics on a planted edge-case table") {
    import spark.implicits._
    val left = Seq(
      (1L, 100L, 10L), // key 1: signups at 90 and 100 -> exact-tie time matches (100)
      (1L, 95L, 11L),  // between the two -> 90
      (2L, 50L, 20L),  // key 2: only later right rows -> no match
      (3L, 70L, 30L),  // key 3: two right rows at SAME time 60 -> larger seq wins
      (4L, 10L, 40L)   // key absent on the right -> no match
    ).toDF("k", "t", "lid")
    val right = Seq(
      (1L, 90L, 201L),
      (1L, 100L, 202L),
      (2L, 60L, 203L),
      (3L, 60L, 204L),
      (3L, 60L, 205L)
    ).toDF("k2", "t2", "rid")
    val got = graft.plans.AsOfJoin
      .join(left.repartition(3), right.repartition(2), "k", "k2", "t", "t2", "rid")
      .select(col("lid"), col("rid"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got === Map(
      10L -> Some(202L), // t2 = t exactly -> matches (<=)
      11L -> Some(201L),
      20L -> None,       // right rows exist but all later
      30L -> Some(205L), // time tie -> greatest tiebreak
      40L -> None        // key missing entirely
    ))
  }

  test("audio window energy: exact per-window recompute and grid coverage") {
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = MultimodalOps.audioEnergy(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // every emitted window: full 64-byte, correct start, exact energy
    got.foreach { case (id, w, start, energy) =>
      val text = docs(id)
      assert(start === w * 64)
      assert(start + 64 <= text.length)
      assert(energy === text.substring(start.toInt, start.toInt + 64).map(_.toLong).sum)
    }
    // grid coverage: exactly len/64 windows per doc that has any
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    docs.foreach { case (id, text) =>
      val n = text.length / 64
      assert(byDoc.getOrElse(id, Seq.empty) === (0L until n.toLong))
    }
  }

  test("concurrent sessions: matches the direct all-pairs overlap recompute") {
    val sess = EventOps.sessionize(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))) // user, sid, start, end
    val expected = sess.map { case (u, sid, s, e) =>
      (u, sid) -> sess.count { case (u2, _, s2, e2) => u2 != u && s2 <= e && s <= e2 }.toLong
    }.toMap
    val got = EventOps.concurrentSessions(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(got === expected)
    // non-vacuous in both directions
    assert(got.values.exists(_ > 0) && got.size === sess.length)
  }

  test("rolling 7-day users: exact per-day recompute, window wider than a day") {
    val grid = Tables.events(spark, Sf0001)
      .select(expr("ts DIV 86400000000000").as("day"), col("user_id"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val days = grid.map(_._1).distinct
    val expected = days.map { d =>
      d -> grid.filter(g => g._1 >= d - 6 && g._1 <= d).map(_._2).distinct.length.toLong
    }.toMap
    val got = EventOps.rollingUsers7d(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // the window really accumulates: some day's 7d reach exceeds its 1d reach
    val daily = grid.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length.toLong).toMap
    assert(days.exists(d => got(d) > daily(d)))
  }

  test("centroid outliers: exact distance recompute, k per label, ordered") {
    val rows = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Float](2).toArray))
    val centroid = rows.groupBy(_._2).map { case (l, vs) =>
      l -> (0 until 64).map { p =>
        vs.map(v => math.round(v._3(p).toDouble * 1e6)).sum.toDouble / 1e6 / vs.length
      }
    }
    val expected = rows.groupBy(_._2).flatMap { case (l, vs) =>
      vs.map { case (id, _, e) =>
        val c = centroid(l)
        val d = (0 until 64).foldLeft(0.0) { (a, p) =>
          a + (e(p).toDouble - c(p)) * (e(p).toDouble - c(p))
        }
        (l, id, d)
      }.toSeq.sortBy { case (_, id, d) => (-d, id) }
        .take(SimilarityOps.OutlierTopK)
        .zipWithIndex.map { case ((_, id, d), i) => (l, id, d, (i + 1).toLong) }
    }.toSet
    val got = SimilarityOps.centroidOutliers(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got === expected)
    assert(got.groupBy(_._1).values.forall(_.size == SimilarityOps.OutlierTopK))
  }

  test("hourly spine: dense grid, zero-filled gaps, forward-filled carries") {
    val rows = EventOps.hourlySpineFilled(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .sortBy(_._1)
    // dense: every hour between first and last, exactly once
    assert(rows.map(_._1).toSeq === (rows.head._1 to rows.last._1))
    // gaps are real on this data, and a gap is exactly n_events == 0
    assert(rows.exists(_._3) && rows.exists(!_._3))
    rows.foreach { case (_, n, gap, _) => assert(gap === (n == 0L)) }
    // forward fill: a gap hour carries the previous non-gap hour's value
    val hourly = EventOps.hourlyRollup(spark, Sf0001).collect()
      .map(_.getLong(0) / 3600).toSet
    rows.sliding(2).foreach {
      case Array((h1, _, gap1, c1), (h2, _, gap2, c2)) =>
        if (gap2) assert(c2 === c1, s"gap hour $h2 must carry $h1's value")
        else assert(c2.isDefined)
      case _ =>
    }
    // spot-consistency with the typed rollup's hour set
    assert(rows.filterNot(_._3).map(_._1).toSet === hourly)
  }

  test("quality percentile: below-counts match the quality_score output exactly") {
    val q4 = TextOps.qualityScore(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> math.round(r.getDouble(6) * 1e4)).toMap
    val got = TextOps.qualityPercentile(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.length === q4.size)
    val n = q4.size.toDouble
    got.foreach { case (id, bin, below, binN, pct) =>
      assert(bin === q4(id))
      assert(below === q4.values.count(_ < bin).toLong)
      assert(binN === q4.values.count(_ == bin).toLong)
      assert(pct === below / n)
    }
  }

  test("split drift: exact bin recompute; same-distribution split drifts near zero") {
    val docs = Tables.documents(spark, Sf0001)
      .select(TextOps.splitExpr(col("doc_id")).as("split"), col("n_chars"))
      .collect().map(r => (r.getString(0) == "train", math.min(r.getLong(1) / 100, 19L)))
    val got = TextOps.splitDrift(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(5)))).toMap
    val (train, rest) = docs.partition(_._1)
    got.foreach { case (bin, (nTrain, nRest, term)) =>
      assert(nTrain === train.count(_._2 == bin).toLong)
      assert(nRest === rest.count(_._2 == bin).toLong)
      assert(term >= 0.0 && term <= 1.0)
    }
    // a hash split IS distribution-preserving: total drift is small
    assert(got.values.map(_._3).sum < 0.2)
  }

  test("flag profile: boolean monoids match the direct recompute") {
    val li = Tables.lineitem(spark, Sf0001)
      .select("l_returnflag", "l_quantity", "l_discount", "l_tax").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val expected = li.groupBy(_._1).map { case (f, rows) =>
      f -> ((rows.forall(_._2 > 0.0), rows.exists(_._3 > 0.08),
        rows.count(_._4 == 0.0).toLong, rows.count(_._3 == 0.0).toLong, rows.length.toLong))
    }
    val got = RelationalOps.flagProfile(spark, Sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got === expected)
  }

  test("kmeans round 2: exact E-M-E recompute, some vectors switch clusters") {
    val rows = Tables.embeddings(spark, Sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def fold64(f: Int => Double) = (0 until 64).foldLeft(0.0)((a, i) => a + f(i))
    // round 1: nearest seed by ||v||^2 + ||s||^2 - 2vs (kmeansAssign's shape)
    val seeds = rows.filter(_._1 < SimilarityOps.KmeansK)
    val asg1 = rows.map { case (id, v) =>
      val vn2 = fold64(i => v(i).toDouble * v(i).toDouble)
      id -> seeds.map { case (sid, s) =>
        val sn2 = fold64(i => s(i).toDouble * s(i).toDouble)
        val dot = fold64(i => v(i).toDouble * s(i).toDouble)
        (vn2 + sn2 - 2.0 * dot, sid)
      }.min._2
    }.toMap
    // M: quantized-integer centroids per cluster
    val cent = rows.groupBy(r => asg1(r._1)).map { case (c, vs) =>
      c -> (0 until 64).map { p =>
        vs.map(v => math.round(v._2(p).toDouble * 1e6)).sum.toDouble / 1e6 / vs.length
      }
    }
    // round 2: nearest recomputed centroid by direct (x-c)^2 fold
    val asg2 = rows.map { case (id, v) =>
      val (d, c) = cent.toSeq.map { case (c, m) =>
        (fold64(i => (v(i).toDouble - m(i)) * (v(i).toDouble - m(i))), c)
      }.min
      (id, c, d)
    }
    val expected = asg2.groupBy(_._2).map { case (c, vs) =>
      c -> ((vs.length.toLong,
        vs.count { case (id, c2, _) => c2 != asg1(id) }.toLong,
        vs.map(v => math.round(v._3 * 1e9)).sum))
    }
    val got = SimilarityOps.kmeansRound2(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    // the loop is really converging on something: round 2 moved vectors
    assert(got.values.map(_._2).sum > 0)
  }

  test("count-min: merge-order invariant, never undercounts, collision-bounded") {
    import spark.implicits._
    // 3000 distinct keys into 4x64 counters — heavy collisions by design
    val keys = (0 until 3000).flatMap(i => Seq.fill(i % 7 + 1)(s"k$i"))
    val truth = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
    def sketchOf(parts: Int): Array[Byte] = keys.toDF("k").repartition(parts)
      .agg(graft.functions.CountMin.cmSketch(col("k"), lit(4), lit(64)))
      .collect()(0).getAs[Array[Byte]](0)
    val one = sketchOf(1)
    val eight = sketchOf(8)
    // element-wise-add merge is commutative: result independent of partitioning
    assert(java.util.Arrays.equals(one, eight))
    val sk = graft.functions.CountMin.fromBytes(one)
    val n = keys.length.toLong
    val eps = math.ceil(2.718281828 * n / 64.0).toLong
    truth.foreach { case (k, t) =>
      val est = sk.estimate(org.apache.spark.unsafe.types.UTF8String.fromString(k))
      assert(est >= t, s"$k undercounted: $est < $t")
      assert(est <= t + eps, s"$k over eps bound: $est > $t + $eps")
    }
    // collisions actually happened (the sketch is under real pressure)
    assert(truth.exists { case (k, t) =>
      sk.estimate(org.apache.spark.unsafe.types.UTF8String.fromString(k)) > t
    })
  }

  test("bpe merges: exact weighted pair recompute and top-k order") {
    val words = Tables.documents(spark, Sf0001).select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, v) => w -> v.length.toLong }
    val pairCounts = words.toSeq
      .filter(_._1.length >= 2)
      .flatMap { case (w, c) => w.sliding(2).map(_ -> c) }
      .groupBy(_._1).map { case (p, v) => p -> v.map(_._2).sum }
    val expected = pairCounts.toSeq
      .sortBy { case (p, n) => (-n, p) }
      .take(TextOps.BpeTopK)
    val got = TextOps.bpeMerges(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === expected)
  }

  test("zorder64: codegen interleave matches a bit-by-bit reference") {
    // deterministic pseudo-random probe values incl. the mask edges
    val probes = (0 until 200).map { i =>
      val x = (i * 2654435761L) & 0xFFFFFFFFL
      val y = (i * 40503L + 7) & 0xFFFFFFFFL
      (x, y)
    } ++ Seq((0L, 0L), (0xFFFFFFFFL, 0L), (0L, 0xFFFFFFFFL), (0xFFFFFFFFL, 0xFFFFFFFFL))
    def ref(x: Long, y: Long): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    import spark.implicits._
    val got = probes.toDF("x", "y")
      .select(graft.functions.VectorExpressions.zorder64(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq === probes.map { case (x, y) => ref(x, y) })
  }

  test("zorder layout: every bucket bounds BOTH dims simultaneously") {
    val rows = LayoutOps.zorderLayout(spark, Sf001).collect()
    // 5 fixed Z-prefix bits = x bits 9-8 and y bits 9-7 fixed:
    // within any bucket x spans < 256 and y spans < 128 — the
    // two-dimensional bound no single-column sort can give
    assert(rows.nonEmpty && rows.length <= 32)
    rows.foreach { r =>
      assert(r.getAs[Long]("x_span") <= 255L, s"bucket ${r.getAs[Long]("z_bucket")}")
      assert(r.getAs[Long]("y_span") <= 127L, s"bucket ${r.getAs[Long]("z_bucket")}")
    }
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total === Tables.orders(spark, Sf001).count())
  }

  test("zorder write shape: range partitions cover disjoint z-ranges") {
    val parts = LayoutOps.zorderPartitioned(spark, Sf001, 8)
      .groupBy(col("part_id"))
      .agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect()
      .sortBy(_.getAs[Int]("part_id"))
    assert(parts.length > 1)
    parts.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"))
      case _           =>
    }
  }

  test("bloom decontamination: identical to the exact form, prefilter in plan") {
    val exact = DedupOps.decontaminate(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val df = DedupOps.decontaminateBloom(spark, Sf0001)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === exact)
    assert(exact.nonEmpty) // non-vacuous: the synthetic corpus leaks
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), "bloom prefilter missing from the physical plan")
  }

  test("minhash sources: the ALL row is the elementwise MIN of the source rows") {
    val rows = DedupOps.minhashSources(spark, Sf0001).collect()
    val (all, bySrc) = rows.partition(_.getString(0) == "ALL")
    assert(all.length === 1 && bySrc.nonEmpty)
    (1 to DedupOps.MinhashPerms).foreach { i =>
      val merged = bySrc.map(_.getLong(i)).min
      assert(all.head.getLong(i) === merged, s"sig${i - 1}")
    }
  }

  test("graph triangles: exact census recompute from the edge list") {
    val edges = DedupOps.minhashLsh(spark, Sf001)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wedges = for {
      (a, m1) <- edges.toSeq
      (m2, b) <- edges.toSeq if m1 == m2
    } yield (a, b)
    val triangles = wedges.count(edges.contains)
    val row = GraphOps.triangleStats(spark, Sf001).collect().head
    assert(row.getLong(0) === edges.size.toLong)
    assert(row.getLong(1) === wedges.size.toLong)
    assert(row.getLong(2) === triangles.toLong)
    assert(triangles > 0, "census is vacuous at this SF — pick data with a clique")
  }

  test("ahash: exact driver recompute of the byte-grid hash") {
    val docs = Tables.documents(spark, Sf0001)
      .filter(col("doc_id") < 20).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def ref(text: String): Option[String] = {
      val w = text.length / 64
      if (w < 1) None
      else {
        val pixels = (0 until 64).map { k =>
          (1 to w).map(j => text.charAt(k * w + j - 1).toInt.toLong).sum
        }
        val total = pixels.sum
        Some(pixels.map(p => if (64 * p > total) '1' else '0').mkString)
      }
    }
    val got = MultimodalOps.aHash(spark, Sf0001)
      .filter(col("media_id") < 20).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = docs.flatMap { case (id, t) => ref(t).map(id -> _) }
    assert(got === expected)
    assert(expected.nonEmpty)
  }

  test("ahash pairs: within threshold, complete for hamming <= 3, dups at 0") {
    val hashes = MultimodalOps.aHash(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val pairs = MultimodalOps.aHashPairs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case ((a, b), h) => assert(a < b && h <= 6L) }
    // banding guarantee: any pair within hamming 3 shares a 16-bit band
    val close = for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib && ham(ha, hb) <= 3
    } yield (ia, ib)
    close.foreach(p => assert(pairs.contains(p), s"missed guaranteed pair $p"))
    // the corpus has exact duplicates -> hamming-0 pairs must exist
    assert(pairs.values.exists(_ == 0L))
  }

  test("kll sketch: exact below k, rank-bounded on an adversarial sorted stream") {
    // exact regime: N < k means no compaction ever fires
    val small = new graft.functions.KllSketch.Sketch(64)
    val vals = (1 to 50).map(_.toDouble)
    vals.foreach(small.add)
    assert(small.total === 50L)
    val got = small.quantiles(Array(0.5, 0.9, 1.0))
    assert(got.toSeq === Seq(25.0, 45.0, 50.0)) // lower rule: ceil(q*n)-th value
    // adversarial regime: 50k values fed in SORTED order (the worst
    // case for alternation bias), tiny k
    val big = new graft.functions.KllSketch.Sketch(64)
    val n = 50000
    (1 to n).foreach(v => big.add(v.toDouble))
    assert(big.total === n.toLong)
    Seq(0.1, 0.5, 0.95, 0.99).foreach { q =>
      val est = big.quantiles(Array(q))(0)
      val rank = est // values are 1..n, so rank(est) == est
      assert(math.abs(rank - q * n) <= 0.05 * n, s"q=$q est=$est")
    }
    // merge path: two disjoint halves merged must conserve weight and
    // stay inside the same envelope
    val a = new graft.functions.KllSketch.Sketch(64)
    val b = new graft.functions.KllSketch.Sketch(64)
    (1 to n / 2).foreach(v => a.add(v.toDouble))
    (n / 2 + 1 to n).foreach(v => b.add(v.toDouble))
    a.mergeWith(b)
    assert(a.total === n.toLong)
    Seq(0.5, 0.95).foreach { q =>
      val est = a.quantiles(Array(q))(0)
      assert(math.abs(est - q * n) <= 0.05 * n, s"merged q=$q est=$est")
    }
  }

  test("kll quantile certificates: all types in envelope, non-vacuous") {
    val rows = EventOps.kllValueQuantiles(spark, Sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4), r.toString)
      assert(r.getLong(1) > 256L, "certificate vacuous: sketch never compacted")
    }
  }

  test("shuffle shards: all shards present, corpus covered, balanced, rerun-stable") {
    val rows = TextOps.shuffleShards(spark, Sf001).collect()
    assert(rows.length === TextOps.NShards)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total === Tables.documents(spark, Sf001).count())
    val counts = rows.map(_.getAs[Long]("n_docs"))
    assert(counts.max < 2 * counts.min, counts.mkString(",")) // md5 uniformity
    val again = TextOps.shuffleShards(spark, Sf001).collect().map(_.toString).sorted
    assert(again.toSeq === rows.map(_.toString).sorted.toSeq)
  }

  test("langid confusion: matrix mass == corpus, diagonal == langId agreement") {
    val rows = TextOps.langidConfusion(spark, Sf001).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total === Tables.documents(spark, Sf001).count())
    // diagonal must equal the per-doc join of langId preds with labels
    val preds = TextOps.langId(spark, Sf001).select("doc_id", "pred_lang")
    val agree = preds
      .join(Tables.documents(spark, Sf001).select("doc_id", "lang"), Seq("doc_id"))
      .filter(col("pred_lang") === col("lang"))
      .count()
    val diag = rows
      .filter(r => r.getAs[String]("lang") == r.getAs[String]("pred_lang"))
      .map(_.getAs[Long]("n"))
      .sum
    assert(diag === agree)
  }

  test("ngram diversity: TTR monotone in n, token counts consistent across levels") {
    val rows = TextOps.ngramDiversity(spark, Sf001).collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (_, rs) =>
      val byN = rs.map(r => r.getAs[Long]("n") -> r).toMap
      assert(byN.keySet === Set(1L, 2L, 3L))
      // higher n => more types (longer contexts repeat less) => TTR rises
      assert(byN(1L).getAs[Long]("ttr_ppm") <= byN(2L).getAs[Long]("ttr_ppm"))
      assert(byN(2L).getAs[Long]("ttr_ppm") <= byN(3L).getAs[Long]("ttr_ppm"))
      // each extra gram level loses exactly one position per doc with
      // >= n tokens: token counts strictly decrease
      assert(byN(1L).getAs[Long]("tokens") > byN(2L).getAs[Long]("tokens"))
      assert(byN(2L).getAs[Long]("tokens") > byN(3L).getAs[Long]("tokens"))
      rs.foreach(r => assert(r.getAs[Long]("types") <= r.getAs[Long]("tokens")))
    }
  }

  test("incremental dedup: statuses partition the batch, all three statuses non-vacuous at sf0.01") {
    val rows = DedupOps.incrementalDedup(spark, Sf001).collect()
    val statuses = rows.map(_.getAs[String]("status")).toSet
    assert(statuses === Set("dup_of_old", "dup_in_batch", "fresh"))
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val batch = Tables.documents(spark, Sf001).filter(col("doc_id") % 2 === 1).count()
    assert(total === batch)
  }

  test("quantile normalize: mapped sums match an exact driver recompute of the rank map") {
    val rows = EventOps.quantileNormalize(spark, Sf001).collect()
    assert(rows.nonEmpty)
    val data = Tables.events(spark, Sf001)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), (BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val globalSorted = data.map(_._2).sorted // global rank -> bin
    val nTotal = globalSorted.length.toLong
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val vs = data.filter(_._1 == t).map(_._2).sorted
      val nT = vs.length.toLong
      assert(r.getAs[Long]("n_events") === nT)
      assert(r.getAs[Long]("raw_c") === vs.sum)
      // exact recompute: value at within-type rank r maps to the global
      // bin at rank ceil(r*N/n_t); ranks here are per distinct bin
      // (cum = count of type values <= vb), matching the operator
      val mapped = vs.distinct.map { vb =>
        val cum = vs.count(_ <= vb).toLong
        val target = (cum * nTotal + nT - 1) / nT
        val g = globalSorted(target.toInt - 1)
        g * vs.count(_ == vb)
      }.sum
      assert(r.getAs[Long]("mapped_c") === mapped, s"type $t")
      assert(r.getAs[Long]("shift_c") === mapped - vs.sum)
    }
    // normalization sanity: mapping every type onto the global
    // distribution moves type means TOWARD the global mean overall
    val gMean = globalSorted.sum.toDouble / nTotal
    val before = rows.map(r => math.abs(r.getAs[Double]("mean_raw") * 100.0 - gMean)).sum
    val after = rows.map(r => math.abs(r.getAs[Double]("mean_mapped") * 100.0 - gMean)).sum
    assert(after <= before + 1e-9, s"normalization diverged: $after > $before")
  }

  test("containment pairs: metrics exact vs raw shingle sets; catches jaccard-diluted pairs") {
    val rows = DedupOps.containmentPairs(spark, Sf001).collect()
    assert(rows.nonEmpty, "containment screen is vacuous at sf0.001")
    val sets = Tables.documents(spark, Sf001)
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map { r =>
        val toks = r.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty)
        r.getLong(0) -> toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }
      .toMap
    rows.foreach { r =>
      val (s, b) = (r.getAs[Long]("doc_small"), r.getAs[Long]("doc_big"))
      val (sa, sb) = (sets(s), sets(b))
      val shared = (sa & sb).size.toLong
      assert(r.getAs[Long]("n_small") === math.min(sa.size, sb.size).toLong)
      assert(r.getAs[Long]("n_big") === math.max(sa.size, sb.size).toLong)
      assert(r.getAs[Long]("n_shared") === shared)
      assert(r.getAs[Double]("containment") ===
        shared.toDouble / math.min(sa.size, sb.size).toDouble)
      assert(r.getAs[Double]("containment") >= 0.7)
      assert(sa.size <= sb.size || s > b, "doc_small must carry the smaller set")
      assert(r.getAs[Double]("jaccard") ===
        shared.toDouble / (sa.size + sb.size - shared).toDouble)
      assert(r.getAs[Double]("jaccard") <= r.getAs[Double]("containment") + 1e-12)
    }
  }

  test("interval coverage: union length matches an exact sweep over raw seconds") {
    val rows = EventOps.intervalCoverage(spark, Sf001).collect()
    assert(rows.nonEmpty)
    val data = Tables.events(spark, Sf001)
      .select(col("event_type"), expr("ts DIV 1000000000").as("s")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val starts = data.filter(_._1 == t).map(_._2)
      assert(r.getAs[Long]("n_events") === starts.length.toLong)
      // oracle recompute: sweep the sorted distinct intervals
      val iv = starts.distinct.sorted.map(s => (s, s + 3600L))
      var covered = 0L; var islands = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (s, e) =>
        if (curE == Long.MinValue || s > curE) { // new island (touching merges)
          if (curE != Long.MinValue) covered += curE - curS
          islands += 1; curS = s; curE = e
        } else if (e > curE) curE = e
      }
      covered += curE - curS
      assert(r.getAs[Long]("covered_s") === covered, s"type $t")
      assert(r.getAs[Long]("n_islands") === islands, s"type $t")
      assert(r.getAs[Long]("first_s") === iv.head._1)
      assert(r.getAs[Long]("last_s") === iv.map(_._2).max)
      val span = iv.map(_._2).max - iv.head._1
      assert(r.getAs[Long]("utilization_ppm") === covered * 1000000L / span)
      // union is at most the sum of interval lengths and at least one interval
      assert(covered <= 3600L * iv.length && covered >= 3600L)
    }
  }

  test("winsorized stats: cuts at the right ranks, winsorized mean pulled toward center") {
    val rows = EventOps.winsorizedStats(spark, Sf001).collect()
    assert(rows.nonEmpty)
    // driver recompute per type from raw values
    val byType = Tables.events(spark, Sf001)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), (BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      val vs = byType(r.getAs[String]("event_type"))
      val n = vs.length
      assert(r.getAs[Long]("n_events") === n.toLong)
      val lo = vs((n * 5 + 99) / 100 - 1)
      val hi = vs((n * 95 + 99) / 100 - 1)
      assert(r.getAs[Double]("p05") === lo / 100.0)
      assert(r.getAs[Double]("p95") === hi / 100.0)
      val wm = vs.map(v => math.max(math.min(v, hi), lo)).sum.toDouble / (n * 100.0)
      assert(math.abs(r.getAs[Double]("mean_winsorized") - wm) < 1e-9)
      // clipping both tails at 5% must not move the mean outside the cuts
      assert(r.getAs[Double]("mean_winsorized") >= r.getAs[Double]("p05"))
      assert(r.getAs[Double]("mean_winsorized") <= r.getAs[Double]("p95"))
    }
  }

  test("value outliers: top-25 by |z| matches driver recompute, all types standardized") {
    val rows = EventOps.valueOutliers(spark, Sf001).collect()
    assert(rows.length === 25)
    val data = Tables.events(spark, Sf001)
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val stats = data.groupBy(_._2).map { case (t, xs) =>
      val n = xs.length.toDouble
      val s = xs.map(x => BigDecimal(x._3)).sum.toDouble
      val s2 = xs.map(x => BigDecimal(x._3 * x._3)).sum.toDouble
      val mean = s / n
      t -> (mean, math.sqrt(s2 / n - mean * mean))
    }
    val expect = data
      .map { case (id, t, v) => (id, (v - stats(t)._1) / stats(t)._2) }
      .sortBy { case (id, z) => (-math.abs(z), id) }
      .take(25)
    rows.zip(expect).foreach { case (r, (ei, ez)) =>
      assert(r.getAs[Long]("event_id") === ei)
      assert(math.abs(r.getAs[Double]("z") - ez) < 1e-6)
    }
  }

  test("table checksum: mergeable across shards, sensitive to any single-row change") {
    val rows = RelationalOps.tableChecksum(spark, Sf001).collect()
    assert(rows.map(_.getAs[String]("tbl")).toSet === Set("lineitem", "orders", "documents"))
    val docRow = rows.find(_.getAs[String]("tbl") == "documents").get
    assert(docRow.getAs[Long]("n_rows") === Tables.documents(spark, Sf001).count())
    // mergeability: xor of per-source shard fingerprints == whole-table xor
    val hExpr = org.apache.spark.sql.functions
      .conv(substring(md5(concat_ws("|",
        col("doc_id").cast("string"), md5(col("text")), col("lang"), col("source"),
        col("n_chars").cast("string"))), 1, 15), 16, 10)
      .cast("bigint")
    val shards = Tables.documents(spark, Sf001)
      .select(col("source"), hExpr.as("h"))
      .groupBy("source")
      .agg(expr("bit_xor(h)").as("xfp"))
      .collect()
      .map(_.getAs[Long]("xfp"))
    assert(shards.reduce(_ ^ _) === docRow.getAs[Long]("xor_fp"))
    // sensitivity: flipping one row's n_chars changes both fingerprints
    val tampered = Tables.documents(spark, Sf001)
      .withColumn("n_chars",
        when(col("doc_id") === 0L, col("n_chars") + 1L).otherwise(col("n_chars")))
      .select(concat_ws("|",
        col("doc_id").cast("string"), md5(col("text")), col("lang"), col("source"),
        col("n_chars").cast("string")).as("c"))
      .select(org.apache.spark.sql.functions
        .conv(substring(md5(col("c")), 1, 15), 16, 10).cast("bigint").as("h"))
      .agg(expr("bit_xor(h)").as("xfp"), sum(col("h") % 1000000000L).as("sfp"))
      .collect()(0)
    assert(tampered.getAs[Long]("xfp") !== docRow.getAs[Long]("xor_fp"))
    assert(tampered.getAs[Long]("sfp") !== docRow.getAs[Long]("sum_fp"))
  }

  test("bm25: top-10 scores match an exhaustive driver recompute, rare term dominates") {
    val rows = TextOps.bm25TopK(spark, Sf001).collect()
    assert(rows.length === TextOps.Bm25TopK)
    // driver-side oracle: recompute BM25 from raw text with plain Scala
    val docs = Tables
      .documents(spark, Sf001)
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty))
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
    val dfm = TextOps.Bm25Terms
      .map(t => t -> docs.count(_._2.contains(t)).toDouble)
      .toMap
    def score(toks: Array[String]): Double =
      TextOps.Bm25Terms.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val idf = (n - dfm(t) + 0.5) / (dfm(t) + 0.5)
          (idf * (tf * 2.2)) / (tf + 1.2 * (0.25 + (0.75 * toks.length) / avgdl))
        }
      }.sum
    val expect = docs
      .map { case (id, toks) => (id, score(toks)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(TextOps.Bm25TopK)
    val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    got.zip(expect).foreach { case ((gi, gs), (ei, es)) =>
      assert(gi === ei, s"rank order differs: got ${got.toSeq} want ${expect.toSeq}")
      assert(math.abs(gs - es) < 1e-9)
    }
    // 'dup' is ~30x rarer than the other terms: any top doc containing it
    // must outscore every doc that matches only common terms equally often
    val dupDocs = docs.filter(_._2.contains("dup")).map(_._1).toSet
    if (dupDocs.nonEmpty) assert(dupDocs.contains(got.head._1))
  }

  test("rp project: 45 probe pairs, JL ratios concentrate around 1, deterministic") {
    val rows = SimilarityOps.rpProject(spark, Sf001).collect()
    assert(rows.length === SimilarityOps.RpProbe * (SimilarityOps.RpProbe - 1) / 2)
    rows.foreach { r =>
      assert(r.getAs[Double]("d2_orig") > 0.0 && r.getAs[Double]("d2_proj") >= 0.0)
      val ratio = r.getAs[Double]("ratio")
      // K=16 Rademacher JL: sd(ratio) = sqrt(2/16) ~ 0.35; 3 sigma
      assert(ratio > 0.0 && ratio < 2.5, s"JL preservation broken: $r")
    }
    val mean = rows.map(_.getAs[Double]("ratio")).sum / rows.length
    assert(math.abs(mean - 1.0) < 0.35, s"mean ratio $mean")
    // deterministic end to end (md5 signs, no RNG): a rerun is identical
    val again = SimilarityOps.rpProject(spark, Sf001).collect().map(_.toString).sorted
    assert(again.toSeq === rows.map(_.toString).sorted.toSeq)
  }

  test("mix weights: max cell gets weight 1, low-resource cells upweighted vs share") {
    val rows = TextOps.mixWeights(spark, Sf001).collect()
    assert(rows.nonEmpty)
    // exactly one cell sits at the temperature scale's reference point
    assert(rows.count(_.getAs[Double]("rel_weight") == 1.0) === 1)
    val maxTok = rows.map(_.getAs[Long]("cell_tokens")).max
    rows.foreach { r =>
      val w = r.getAs[Double]("rel_weight")
      val share = r.getAs[Long]("cell_tokens").toDouble / maxTok
      assert(w >= share - 1e-12, s"tau=0.5 must not DOWNweight vs proportional: $r")
      assert(math.abs(w - math.sqrt(share)) < 1e-12)
    }
    // ppm shares sum to ~1e6 (floor division loses < nCells ppm)
    val ppm = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(ppm <= 1000000L && ppm > 1000000L - rows.length)
  }

  test("dsir importance: buckets cover corpus, ratios straddle parity, identity when target=raw") {
    val rows = TextOps.dsirImportance(spark, Sf001).collect()
    assert(rows.length === TextOps.DsirBuckets)
    rows.foreach { r =>
      assert(r.getAs[Long]("target_count") <= r.getAs[Long]("raw_count"))
    }
    // an informative feature hash has buckets on both sides of 1.0x
    val ratios = rows.map(_.getAs[Long]("ratio_ppm"))
    assert(ratios.exists(_ > 1000000L) && ratios.exists(_ < 1000000L))
    // weighted mean of ratio over raw mass = 1 by construction:
    // sum(t_c * r_tot / (r_c * t_tot) * r_c) = r_tot
    val tTot = rows.map(_.getAs[Long]("target_count")).sum.toDouble
    val rTot = rows.map(_.getAs[Long]("raw_count")).sum.toDouble
    val mean = rows.map { r =>
      r.getAs[Long]("target_count") * rTot / (r.getAs[Long]("raw_count") * tTot) *
        r.getAs[Long]("raw_count")
    }.sum / rTot
    assert(math.abs(mean - 1.0) < 1e-9)
  }

  test("compaction plan: every file under target, ceil-division identities hold") {
    val rows = TextOps.compactionPlan(spark, Sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bytes = r.getAs[Long]("cell_bytes")
      val files = r.getAs[Long]("n_files")
      assert(files === (bytes + TextOps.CompactTargetBytes - 1) / TextOps.CompactTargetBytes)
      assert(r.getAs[Long]("avg_file_bytes") <= TextOps.CompactTargetBytes)
      assert((files - 1) * TextOps.CompactTargetBytes < bytes, s"one file too many: $r")
    }
  }

  test("freq spectrum: bands partition the vocabulary, mass conserved") {
    val rows = TextOps.freqSpectrum(spark, Sf0001).collect()
    rows.foreach { r =>
      val band = r.getAs[Long]("band")
      assert(r.getAs[Long]("min_cnt") >= (1L << (band - 1)))
      assert(r.getAs[Long]("max_cnt") < (1L << band))
    }
    val types = rows.map(_.getAs[Long]("n_types")).sum
    val mass = rows.map(_.getAs[Long]("n_tokens")).sum
    val wc = TextOps.wordCount(spark, Sf0001)
      .agg(count(lit(1)), sum(col("cnt"))).collect()(0)
    assert(types === wc.getLong(0))
    assert(mass === wc.getLong(1))
  }

  test("skyline orders: exactly the non-dominated set under (date<=, price>=)") {
    val rows = RelationalOps.skylineOrders(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val all = Tables.orders(spark, Sf0001)
      .select(
        col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("d"),
        (col("o_totalprice") * 100).cast("long").as("p")
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute-force dominance oracle over the raw table (fine at sf0.001)
    def dominated(k: Long, d: Long, p: Long): Boolean =
      all.exists { case (k2, d2, p2) =>
        k2 != k && d2 <= d && p2 >= p && (d2 < d || p2 > p ||
          // equal (d, p): the lower orderkey is the canonical survivor
          (d2 == d && p2 == p && k2 < k))
      }
    val skyline = rows.map(r => (r.getAs[Long]("o_orderkey"),
      r.getAs[Long]("o_orderdate_epoch"), r.getAs[Long]("price_c"))).toSet
    all.foreach { case (k, d, p) =>
      assert(skyline.contains((k, d, p)) === !dominated(k, d, p),
        s"order $k d=$d p=$p")
    }
    // staircase invariant: sorted by date, prices strictly increase
    val byDate = rows.map(r => (r.getAs[Long]("o_orderdate_epoch"),
      r.getAs[Long]("price_c"))).sortBy(_._1)
    byDate.sliding(2).foreach {
      case Array((d1, p1), (d2, p2)) => assert(d1 < d2 && p1 < p2)
      case _ => ()
    }
  }

  test("vocab overlap: counts exact vs driver token sets, jaccard symmetric-complete") {
    val rows = TextOps.vocabOverlap(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val vocab = Tables.documents(spark, Sf0001)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (s, ws) => s -> ws.map(_._2).toSet }
    // every unordered source pair with a shared token appears exactly once
    val expectPairs = (for {
      a <- vocab.keys; b <- vocab.keys
      if a < b && (vocab(a) & vocab(b)).nonEmpty
    } yield (a, b)).toSet
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet === expectPairs)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (va, vb) = (vocab(a), vocab(b))
      assert(r.getAs[Long]("na") === va.size.toLong)
      assert(r.getAs[Long]("nb") === vb.size.toLong)
      val shared = (va & vb).size.toLong
      assert(r.getAs[Long]("n_shared") === shared)
      assert(r.getAs[Double]("jaccard") ===
        shared.toDouble / (va.size + vb.size - shared).toDouble)
    }
  }

  test("value trend: slope/intercept/r2 match an exact driver OLS; r2 in [0,1]") {
    val rows = EventOps.valueTrend(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("ts DIV 1000000000").as("s"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    rows.foreach { r =>
      val t0 = r.getAs[String]("event_type")
      val pts = ev.filter(_._1 == t0)
      val base = pts.map(_._2).min
      val n = pts.length.toLong
      // exact integer/decimal moments, mirroring the operator
      val ts = pts.map(p => BigDecimal(p._2 - base))
      val vs = pts.map(_._3)
      def d(x: BigDecimal) = x.toDouble
      val (st, sv) = (d(ts.sum), d(vs.sum))
      val stv = d(ts.zip(vs).map { case (a, b) => a * b }.sum)
      val st2 = d(ts.map(a => a * a).sum)
      val sv2 = d(vs.map(a => a * a).sum)
      val num = n.toDouble * stv - st * sv
      val denT = n.toDouble * st2 - st * st
      val denV = n.toDouble * sv2 - sv * sv
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[Double]("sum_tv") === stv)
      assert(r.getAs[Double]("slope_per_day") === num / denT * 86400.0)
      assert(r.getAs[Double]("icept") === (sv - num / denT * st) / n.toDouble)
      val r2 = r.getAs[Double]("r2")
      assert(r2 === num * num / (denT * denV))
      assert(r2 >= 0.0 && r2 <= 1.0)
    }
  }

  test("cusum changepoint: argmax matches an exact driver scan, earliest-k ties") {
    val rows = EventOps.cusumChangepoint(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("ts DIV 1000"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val series = ev.filter(_._1 == t).sortBy(p => (p._2, p._3))
      val n = series.length
      val sumV = series.map(_._4).sum
      var cum = BigDecimal(0)
      var bestK = -1; var bestD = BigDecimal(-1); var bestCum = BigDecimal(0)
      series.zipWithIndex.foreach { case (p, i) =>
        cum += p._4
        val d = (BigDecimal(n) * cum - BigDecimal(i + 1) * sumV).abs
        if (d > bestD) { bestD = d; bestK = i + 1; bestCum = cum }
      }
      assert(r.getAs[Long]("n") === n.toLong)
      assert(r.getAs[Long]("k_star") === bestK.toLong, s"type $t")
      assert(r.getAs[Long]("ts_us") === series(bestK - 1)._2)
      assert(r.getAs[Long]("d_max_c") === (bestD * 100).toLongExact)
      assert(r.getAs[Double]("mean_before") ===
        bestCum.toDouble / bestK.toDouble)
      assert(r.getAs[Double]("mean_after") ===
        (sumV - bestCum).toDouble / (n - bestK).toDouble)
    }
  }

  test("bitmap overlap: intersection counts equal distinct-user set intersections") {
    val rows = EventOps.bitmapOverlap(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val users = Tables.events(spark, Sf0001)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, us) => t -> us.map(_._2).toSet }
    // complete: every type pair sharing at least one bitmap block appears
    val blocks = users.map { case (t, us) => t -> us.map(_ / 63) }
    val expect = (for {
      a <- users.keys; b <- users.keys
      if a < b && (blocks(a) & blocks(b)).nonEmpty
    } yield (a, b)).toSet
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet === expect)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(r.getAs[Long]("users_a") === users(a).size.toLong)
      assert(r.getAs[Long]("users_b") === users(b).size.toLong)
      val both = (users(a) & users(b)).size.toLong
      assert(r.getAs[Long]("n_both") === both)
      assert(r.getAs[Double]("jaccard") ===
        both.toDouble / (users(a).size + users(b).size - both).toDouble)
    }
  }

  test("rolling median 7d: matches a driver sort over each trailing window") {
    val rows = EventOps.rollingMedian7d(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val daily = rows
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day"), r.getAs[Long]("day_c")))
      .groupBy(_._1).map { case (t, ds) => t -> ds.map(d => (d._2, d._3)).sortBy(_._1) }
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val series = daily(t)
      val idx = series.indexWhere(_._1 == r.getAs[Long]("day"))
      val win = series.slice(math.max(0, idx - 6), idx + 1).map(_._2).sorted
      val k = win.length
      assert(r.getAs[Long]("win_days") === k.toLong)
      val med2 = if (k % 2 == 1) 2 * win((k - 1) / 2) else win(k / 2 - 1) + win(k / 2)
      assert(r.getAs[Long]("med2_c") === med2, s"$t day ${r.getAs[Long]("day")}")
    }
  }

  test("benford profile: counts partition orders, ppm sums to ~1e6, digits in 1..9") {
    val rows = RelationalOps.benfordProfile(spark, Sf0001).collect()
    val nOrders = Tables.orders(spark, Sf0001).count()
    assert(rows.map(_.getAs[Long]("n")).sum === nOrders)
    assert(rows.forall(r => r.getAs[Long]("digit") >= 1 && r.getAs[Long]("digit") <= 9))
    // floor-div ppm: total in (1e6 - 9, 1e6]
    val ppm = rows.map(_.getAs[Long]("observed_ppm")).sum
    assert(ppm > 999991L && ppm <= 1000000L)
    // the constants really are Benford's law (re-derive with log10)
    RelationalOps.BenfordPpm.foreach { case (d, p) =>
      assert(p === math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong)
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("delta_ppm") ===
        r.getAs[Long]("observed_ppm") - r.getAs[Long]("benford_ppm"))
    }
  }

  test("event trigrams: top-20 matches a driver scan of per-user sequences") {
    val rows = EventOps.eventTrigrams(spark, Sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val seqs = Tables.events(spark, Sf0001)
      .select(col("user_id"), expr("ts DIV 1000"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).values
      .flatMap { evs =>
        val o = evs.sortBy(e => (e._2, e._3)).map(_._4)
        o.sliding(3).filter(_.length == 3).map(t => (t(0), t(1), t(2)))
      }.toSeq
    val counts = seqs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val total = counts.values.sum
    val expectTop = counts.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(20)
    assert(rows.map(r => ((r.getString(0), r.getString(1), r.getString(2)),
      r.getAs[Long]("cnt"))).toSeq === expectTop)
    rows.foreach { r =>
      assert(r.getAs[Long]("share_ppm") === r.getAs[Long]("cnt") * 1000000L / total)
    }
  }

  test("daily autocorr: r matches a driver Pearson over lagged daily sums, |r|<=1") {
    val rows = EventOps.dailyAutocorr(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("ts DIV 86400000000000"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        (BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1)
      .map { case (t, es) =>
        t -> es.groupBy(_._2).map { case (d, vs) => (d, vs.map(_._3).sum) }.toSeq.sortBy(_._1)
      }
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val xs = daily(t).map(_._2)
      val pairs = xs.zip(xs.drop(1))
      val n = pairs.length
      assert(r.getAs[Long]("n") === n.toLong)
      def d(l: Seq[Long]) = l.map(BigDecimal(_)).sum.toDouble
      val (sx, sy) = (d(pairs.map(_._1)), d(pairs.map(_._2)))
      val sxy = pairs.map { case (a, b) => BigDecimal(a) * BigDecimal(b) }.sum.toDouble
      val sx2 = pairs.map(p => BigDecimal(p._1) * BigDecimal(p._1)).sum.toDouble
      val sy2 = pairs.map(p => BigDecimal(p._2) * BigDecimal(p._2)).sum.toDouble
      val num = n.toDouble * sxy - sx * sy
      val rr = num / (math.sqrt(n.toDouble * sx2 - sx * sx) * math.sqrt(n.toDouble * sy2 - sy * sy))
      assert(r.getAs[Double]("corr_lag1") === rr, s"type $t")
      assert(math.abs(rr) <= 1.0)
    }
  }

  test("activity gini: matches driver rank formula; uniform counts give G near 0") {
    val rows = EventOps.activityGini(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val counts = Tables.events(spark, Sf0001)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
      .map { case (t, us) =>
        t -> us.groupBy(_._2).map { case (u, es) => (u, es.size.toLong) }.toSeq
      }
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val xs = counts(t).sortBy { case (u, x) => (x, u) }.map(_._2)
      val n = xs.length
      val sumX = xs.sum
      val sumIx = xs.zipWithIndex.map { case (x, i) => BigDecimal(i + 1) * BigDecimal(x) }.sum
      assert(r.getAs[Long]("n") === n.toLong)
      assert(r.getAs[Long]("sum_x") === sumX)
      assert(r.getAs[Long]("max_x") === xs.max)
      val g = 2.0 * sumIx.toDouble / (n.toDouble * sumX.toDouble) - (n.toDouble + 1.0) / n.toDouble
      assert(r.getAs[Double]("gini") === g, s"type $t")
      assert(g >= 0.0 && g < 1.0)
    }
  }

  test("weekday profile: shares partition each type, peak is the argmax weekday") {
    val rows = EventOps.weekdayProfile(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (t, rs) =>
      val totalN = rs.map(_.getAs[Long]("n")).sum
      // floor-div shares of one type sum to within 7 ppm-floors of 1e6
      val ppm = rs.map(_.getAs[Long]("share_ppm")).sum
      assert(ppm > 1000000L - 7 && ppm <= 1000000L)
      rs.foreach { r =>
        assert(r.getAs[Long]("weekday") >= 0 && r.getAs[Long]("weekday") <= 6)
        assert(r.getAs[Long]("share_ppm") === r.getAs[Long]("n") * 1000000L / totalN)
      }
      val peaks = rs.filter(_.getAs[Boolean]("is_peak"))
      assert(peaks.length === 1)
      val best = rs.maxBy(r => (r.getAs[Long]("n"), -r.getAs[Long]("weekday")))
      assert(peaks.head.getAs[Long]("weekday") === best.getAs[Long]("weekday"))
    }
    // anchor the weekday encoding: 2024-01-01 (epoch day 19723) was a
    // Monday, and (19723+4)%7 == 1 — so 0=Sunday, 1=Monday, …, 6=Saturday
    assert((19723L + 4) % 7 === 1L)
  }

  test("fano factor: matches driver dispersion over the zero-filled hour span") {
    val rows = EventOps.fanoFactor(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val hours = Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("ts DIV 3600000000000")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, hs) =>
        t -> hs.groupBy(_._2).map { case (h, es) => (h, es.size.toLong) }
      }
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val obs = hours(t)
      val span = obs.keys.max - obs.keys.min + 1
      // zero-filled series over the span: zeros change n but not the sums
      val counts = (obs.keys.min to obs.keys.max).map(h => obs.getOrElse(h, 0L))
      assert(r.getAs[Long]("n_hours") === span)
      assert(r.getAs[Long]("n_obs_hours") === obs.size.toLong)
      assert(r.getAs[Long]("sum_c") === counts.sum)
      val sc2 = counts.map(c => BigDecimal(c) * BigDecimal(c)).sum.toDouble
      assert(r.getAs[Double]("sum_c2") === sc2)
      val fano = (span.toDouble * sc2 - counts.sum.toDouble * counts.sum.toDouble) /
        (span.toDouble * counts.sum.toDouble)
      assert(r.getAs[Double]("fano") === fano, s"type $t")
      assert(fano >= 0.0)
    }
  }

  test("char class profile: classes partition every source's characters") {
    val rows = TextOps.charClassProfile(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_letters") + r.getAs[Long]("n_spaces") +
        r.getAs[Long]("n_other") === r.getAs[Long]("n_chars"))
      val ppm = r.getAs[Long]("letter_ppm") + r.getAs[Long]("space_ppm") +
        r.getAs[Long]("other_ppm")
      assert(ppm > 999997L && ppm <= 1000000L)
    }
    // driver recompute on one source
    val docs = Tables.documents(spark, Sf0001)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource = docs.groupBy(_._1)
    rows.foreach { r =>
      val texts = bySource(r.getAs[String]("source")).map(_._2)
      assert(r.getAs[Long]("n_docs") === texts.length.toLong)
      assert(r.getAs[Long]("n_letters") ===
        texts.map(_.count(_.isLetter).toLong).sum)
      assert(r.getAs[Long]("n_spaces") ===
        texts.map(_.count(c => c == ' ' || c == '\t' || c == '\n' || c == '\r' ||
          c == '\u000B' || c == '\f').toLong).sum)
    }
  }
  test("mad robust: medians and outlier counts match a driver sort recompute") {
    val rows = EventOps.madRobust(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val vals = Tables.events(spark, Sf0001)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0),
        (BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    def medCont(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val h = (s.length - 1) * 0.5
      val lo = s(h.toInt); val hi = s(math.ceil(h).toInt)
      lo + (hi - lo) * (h - math.floor(h))
    }
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val xs = vals(t).map(_.toDouble)
      val med = medCont(xs.toSeq)
      assert(r.getAs[Long]("n") === xs.length.toLong)
      assert(r.getAs[Double]("med_c") === med, s"type $t")
      val devs = xs.map(v => math.abs(v - med))
      val mad = medCont(devs.toSeq)
      assert(r.getAs[Double]("mad_c") === mad)
      val thr = 3.0 * 1.4826 * mad
      assert(r.getAs[Long]("n_out3") === devs.count(_ > thr).toLong)
      // MAD is never above the worst deviation and is nonnegative
      assert(mad >= 0.0 && mad <= devs.max)
    }
  }
  test("ks drift: D matches a brute-force scaled-CDF scan, earliest-bin argmax") {
    val rows = EventOps.ksDrift(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val vals = Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS LONG)")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    val types = vals.keys.toSeq.sorted
    val expectPairs = (for { a <- types; b <- types if a < b } yield (a, b)).toSet
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet === expectPairs)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (xa, xb) = (vals(a), vals(b))
      val (na, nb) = (xa.length.toLong, xb.length.toLong)
      assert(r.getAs[Long]("n_a") === na && r.getAs[Long]("n_b") === nb)
      val grid = (xa ++ xb).distinct.sorted
      var best = -1L; var bestVb = Long.MinValue
      grid.foreach { x =>
        val d = math.abs(xa.count(_ <= x) * nb - xb.count(_ <= x) * na)
        if (d > best) { best = d; bestVb = x }
      }
      assert(r.getAs[Long]("d_scaled") === best, s"pair ($a,$b)")
      assert(r.getAs[Long]("vb_star") === bestVb)
      assert(r.getAs[Double]("ks_d") === best.toDouble / (na.toDouble * nb.toDouble))
      assert(r.getAs[Double]("ks_d") >= 0.0 && r.getAs[Double]("ks_d") <= 1.0)
    }
  }
  test("hapax ratio: legomena and Simpson numerator match driver token counts") {
    val rows = TextOps.hapaxRatio(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val toks = Tables.documents(spark, Sf0001)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("w")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (src, ws) =>
        src -> ws.groupBy(_._2).map { case (_, g) => g.size.toLong }.toSeq
      }
    rows.foreach { r =>
      val cnts = toks(r.getAs[String]("source"))
      assert(r.getAs[Long]("vocab") === cnts.length.toLong)
      assert(r.getAs[Long]("n_tokens") === cnts.sum)
      assert(r.getAs[Long]("n_hapax") === cnts.count(_ == 1L).toLong)
      assert(r.getAs[Long]("n_dis") === cnts.count(_ == 2L).toLong)
      val sn = cnts.map(c => c * (c - 1)).sum
      assert(r.getAs[Long]("simpson_num") === sn)
      val n = cnts.sum
      assert(r.getAs[Double]("simpson_d") === sn.toDouble / (n.toDouble * (n - 1).toDouble))
      // bounds: Simpson in [0,1], hapax subset of vocab
      assert(r.getAs[Double]("simpson_d") >= 0.0 && r.getAs[Double]("simpson_d") <= 1.0)
      assert(r.getAs[Long]("n_hapax") <= r.getAs[Long]("vocab"))
    }
  }
  test("rank agreement: tau matches driver Kendall over tie-broken ranks") {
    val rows = TextOps.rankAgreement(spark, Sf0001).collect()
    assert(rows.length === 1)
    val r = rows.head
    val m = Tables.documents(spark, Sf0001)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("w")).collect()
      .map(x => (x.getString(0), x.getString(1)))
      .groupBy(_._1).map { case (src, ws) => (src, ws.length.toLong, ws.map(_._2).distinct.length.toLong) }
      .toSeq
    val rMass = m.sortBy(x => (-x._2, x._1)).zipWithIndex.map { case (x, i) => x._1 -> (i + 1) }.toMap
    val rVocab = m.sortBy(x => (-x._3, x._1)).zipWithIndex.map { case (x, i) => x._1 -> (i + 1) }.toMap
    val srcs = m.map(_._1).sorted
    val pairs = for { a <- srcs; b <- srcs if a < b } yield (a, b)
    val conc = pairs.count { case (a, b) =>
      (rMass(a) - rMass(b)) * (rVocab(a) - rVocab(b)) > 0 }
    assert(r.getAs[Long]("n_items") === srcs.length.toLong)
    assert(r.getAs[Long]("n_pairs") === pairs.length.toLong)
    assert(r.getAs[Long]("concordant") === conc.toLong)
    assert(r.getAs[Long]("discordant") === (pairs.length - conc).toLong)
    val tau = (2.0 * conc - pairs.length).toDouble / pairs.length.toDouble
    assert(math.abs(r.getAs[Double]("kendall_tau") - tau) < 1e-12)
    assert(math.abs(r.getAs[Double]("kendall_tau")) <= 1.0)
  }

  test("equidepth hist: buckets cover all orders with near-equal depth, ordered bounds") {
    val rows = RelationalOps.equidepthHist(spark, Sf0001).collect().sortBy(_.getAs[Long]("bucket"))
    assert(rows.length === 10)
    val nOrders = Tables.orders(spark, Sf0001).count()
    assert(rows.map(_.getAs[Long]("n")).sum === nOrders)
    // NTILE depth spread is at most 1
    assert(rows.map(_.getAs[Long]("n")).max - rows.map(_.getAs[Long]("n")).min <= 1)
    // bucket ranges ascend and do not overlap (equal boundary values
    // can only touch, not cross)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi_c") <= b.getAs[Long]("lo_c"))
      case _ => ()
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("lo_c") <= r.getAs[Long]("hi_c"))
      assert(r.getAs[Long]("sum_c") >= r.getAs[Long]("n") * r.getAs[Long]("lo_c"))
      assert(r.getAs[Long]("sum_c") <= r.getAs[Long]("n") * r.getAs[Long]("hi_c"))
    }
  }
  test("wow growth: deltas and ratios match driver weekly sums; first week absent") {
    val rows = EventOps.wowGrowth(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val weekly = Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("ts DIV 604800000000000"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        (BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1)
      .map { case (t, es) =>
        t -> es.groupBy(_._2).map { case (w, vs) => (w, vs.map(_._3).sum, vs.size.toLong) }
          .toSeq.sortBy(_._1)
      }
    val got = rows.map(r => ((r.getAs[String]("event_type"), r.getAs[Long]("week")), r)).toMap
    weekly.foreach { case (t, series) =>
      // first week of each type must be absent from the output
      assert(!got.contains((t, series.head._1)))
      series.sliding(2).foreach {
        case Seq((_, prevSum, _), (wk, curSum, curN)) =>
          val r = got((t, wk))
          assert(r.getAs[Long]("n_events") === curN)
          assert(r.getAs[Long]("sum_c") === curSum)
          assert(r.getAs[Long]("prev_c") === prevSum)
          assert(r.getAs[Long]("delta_c") === curSum - prevSum)
          assert(r.getAs[Double]("growth") ===
            (curSum - prevSum).toDouble / prevSum.toDouble)
        case _ => ()
      }
    }
    assert(rows.length === weekly.values.map(_.length - 1).sum)
  }
  test("value streaks: summary matches a driver island scan, champion is lowest tied user") {
    val rows = EventOps.valueStreaks(spark, Sf0001).collect()
    assert(rows.length === 1)
    val r = rows.head
    val ev = Tables.events(spark, Sf0001)
      .select(col("user_id"), expr("ts DIV 1000"), col("event_id"), col("value")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        (BigDecimal(x.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val perUser = ev.groupBy(_._1).map { case (u, es) =>
      val vs = es.sortBy(e => (e._2, e._3)).map(_._4)
      var best = 1; var cur = 1; var runs = 1
      vs.sliding(2).foreach {
        case Array(a, b) =>
          if (b > a) { cur += 1; best = math.max(best, cur) }
          else { cur = 1; runs += 1 }
        case _ => ()
      }
      (u, best.toLong, runs.toLong)
    }.toSeq
    assert(r.getAs[Long]("n_users") === perUser.length.toLong)
    val maxStreak = perUser.map(_._2).max
    assert(r.getAs[Long]("max_streak") === maxStreak)
    assert(r.getAs[Long]("n_users_streak3") === perUser.count(_._2 >= 3).toLong)
    assert(r.getAs[Long]("n_runs") === perUser.map(_._3).sum)
    assert(r.getAs[Long]("champion_user") ===
      perUser.filter(_._2 == maxStreak).map(_._1).min)
  }

  test("first touch: every user counted once, shares exact, types partition users") {
    val rows = EventOps.firstTouch(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val firsts = Tables.events(spark, Sf0001)
      .select(col("user_id"), expr("ts DIV 1000"), col("event_id"), col("event_type")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
      .groupBy(_._1).map { case (_, es) => es.minBy(e => (e._2, e._3))._4 }.toSeq
    val total = firsts.length.toLong
    assert(rows.map(_.getAs[Long]("n_users")).sum === total)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n_users") === firsts.count(_ == t).toLong)
      assert(r.getAs[Long]("share_ppm") === r.getAs[Long]("n_users") * 1000000L / total)
    }
  }
  test("gap quantiles: gap counts and interpolated percentiles match a driver scan") {
    val rows = EventOps.gapQuantiles(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, Sf0001)
      .select(col("event_type"), col("user_id"), expr("ts DIV 1000"), col("event_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def pct(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      val h = (s.length - 1) * q
      val lo = s(h.toInt); val hi = s(math.ceil(h).toInt)
      lo + (hi - lo) * (h - math.floor(h))
    }
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val gaps = ev.filter(_._1 == t).groupBy(_._2).values.flatMap { es =>
        val ts = es.sortBy(e => (e._3, e._4)).map(_._3)
        ts.zip(ts.drop(1)).map { case (a, b) => (b - a).toDouble }
      }.toSeq
      assert(r.getAs[Long]("n_gaps") === gaps.length.toLong)
      assert(r.getAs[Double]("p50_us") === pct(gaps, 0.5), s"type $t")
      assert(r.getAs[Double]("p95_us") === pct(gaps, 0.95))
      assert(r.getAs[Long]("min_us") === gaps.min.toLong)
      assert(r.getAs[Long]("max_us") === gaps.max.toLong)
    }
  }

  test("clv deciles: equal-population tiers, mass conserved, whale curve ascends") {
    val rows = RelationalOps.clvDeciles(spark, Sf0001).collect().sortBy(_.getAs[Long]("decile"))
    assert(rows.length === 10)
    val nCust = Tables.orders(spark, Sf0001).select(col("o_custkey")).distinct().count()
    val nOrd = Tables.orders(spark, Sf0001).count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum === nCust)
    assert(rows.map(_.getAs[Long]("n_orders")).sum === nOrd)
    assert(rows.map(_.getAs[Long]("n_customers")).max -
      rows.map(_.getAs[Long]("n_customers")).min <= 1)
    // deciles ascend in CLV: each tier's mass is at least the previous one's
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi_c") <= b.getAs[Long]("lo_c"))
      case _ => ()
    }
    val ppm = rows.map(_.getAs[Long]("mass_ppm")).sum
    assert(ppm > 999990L && ppm <= 1000000L)
  }
  test("return lift: deltas sum to zero per margin, lift matches driver recompute") {
    val rows = RelationalOps.returnLift(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    // independence identity: sum of delta_scaled over any brand's row is 0
    rows.groupBy(_.getAs[String]("p_brand")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("delta_scaled")).sum === 0L)
    }
    rows.groupBy(_.getAs[String]("l_returnflag")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("delta_scaled")).sum === 0L)
    }
    val grand = rows.map(_.getAs[Long]("o")).sum
    rows.foreach { r =>
      val expect = (r.getAs[Long]("o").toDouble * grand.toDouble) /
        (r.getAs[Long]("row_total").toDouble * r.getAs[Long]("col_total").toDouble)
      assert(r.getAs[Double]("lift") === expect)
      assert(r.getAs[Long]("delta_scaled") ===
        r.getAs[Long]("o") * grand - r.getAs[Long]("row_total") * r.getAs[Long]("col_total"))
    }
  }

  test("copurchase lift: pair counts match a driver basket scan, top-20 cut is stable") {
    val rows = RelationalOps.copurchaseLift(spark, Sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val lines = Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val baskets = lines.groupBy(_._1).map { case (_, ps) => ps.map(_._2).toSeq.sorted }
    val co = baskets.toSeq.flatMap { b =>
      for { i <- b.indices; j <- (i + 1) until b.length } yield (b(i), b(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val freq = lines.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val nOrders = baskets.size.toLong
    val expectTop = co.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(20)
    assert(rows.map(r => ((r.getAs[Long]("part_a"), r.getAs[Long]("part_b")),
      r.getAs[Long]("co"))).toSeq === expectTop)
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"))
      assert(r.getAs[Long]("f_a") === freq(a))
      assert(r.getAs[Long]("f_b") === freq(b))
      assert(r.getAs[Double]("lift") ===
        (r.getAs[Long]("co").toDouble * nOrders.toDouble) /
          (freq(a).toDouble * freq(b).toDouble))
    }
  }

  test("cohort matrix: cells match a driver first-week scan, offset 0 is the cohort size") {
    val rows = EventOps.cohortMatrix(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val wu = Tables.events(spark, Sf0001)
      .select(col("user_id"), expr("ts DIV 604800000000000")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cohortOf = wu.groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2).min }
    val cells = wu
      .map { case (u, w) => (cohortOf(u), w - cohortOf(u)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(rows.length === cells.size)
    val sizes = cells.collect { case ((c, 0L), n) => c -> n }
    rows.foreach { r =>
      val key = (r.getAs[Long]("cohort"), r.getAs[Long]("offset"))
      assert(r.getAs[Long]("n_active") === cells(key))
      assert(r.getAs[Long]("cohort_size") === sizes(key._1))
      assert(r.getAs[Long]("ret_ppm") === cells(key) * 1000000L / sizes(key._1))
      assert(r.getAs[Long]("offset") >= 0L)
    }
    // every cohort's offset-0 cell is its size, and no cell exceeds it
    rows.foreach(r => assert(r.getAs[Long]("n_active") <= r.getAs[Long]("cohort_size")))
  }

  test("rfm segments: grid matches a driver NTILE recompute, population conserved") {
    val rows = RelationalOps.rfmSegments(spark, Sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 125)
    val per = Tables.orders(spark, Sf0001)
      .select(col("o_custkey"), unix_timestamp(col("o_orderdate")), col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        (BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1).map { case (c, os) =>
        (c, os.map(_._2).max, os.size.toLong, os.map(_._3).sum)
      }.toSeq
    def tiers(sorted: Seq[Long]): Map[Long, Long] = {
      // NTILE(5): first n%5 buckets get one extra row
      val n = sorted.length; val q = n / 5; val rem = n % 5
      sorted.zipWithIndex.map { case (cust, i) =>
        val bucket =
          if (i < (q + 1) * rem) i / (q + 1) + 1
          else (i - (q + 1) * rem) / q + rem + 1
        cust -> bucket.toLong
      }.toMap
    }
    val rT = tiers(per.sortBy(x => (x._2, x._1)).map(_._1))
    val fT = tiers(per.sortBy(x => (x._3, x._1)).map(_._1))
    val mT = tiers(per.sortBy(x => (x._4, x._1)).map(_._1))
    val grid = per.groupBy(x => (rT(x._1), fT(x._1), mT(x._1)))
      .map { case (k, cs) => k -> ((cs.size.toLong, cs.map(_._3).sum, cs.map(_._4).sum)) }
    assert(rows.length === grid.size)
    rows.foreach { r =>
      val k = (r.getAs[Long]("r_tier"), r.getAs[Long]("f_tier"), r.getAs[Long]("m_tier"))
      val (nc, no, mc) = grid(k)
      assert(r.getAs[Long]("n_customers") === nc)
      assert(r.getAs[Long]("n_orders") === no)
      assert(r.getAs[Long]("mass_c") === mc)
    }
    assert(rows.map(_.getAs[Long]("n_customers")).sum === per.length.toLong)
  }

  test("phrase hits: top bigram and per-doc counts match a driver token scan") {
    val rows = TextOps.phraseHits(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val docToks = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => (r.getLong(0),
        r.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    val bigrams = docToks.flatMap { case (d, ts) =>
      ts.sliding(2).collect { case Seq(a, b) => (d, s"$a $b") }
    }
    val counts = bigrams.groupBy(_._2).map { case (g, v) => g -> v.size.toLong }
    val top = counts.toSeq.sortBy { case (g, n) => (-n, g) }.head
    val perDoc = bigrams.filter(_._2 == top._1)
      .groupBy(_._1).map { case (d, v) => d -> v.size.toLong }
    assert(rows.length === perDoc.size)
    rows.foreach { r =>
      assert(r.getAs[String]("phrase") === top._1)
      assert(r.getAs[Long]("n_total") === top._2)
      assert(r.getAs[Long]("n_hits") === perDoc(r.getAs[Long]("doc_id")))
    }
    assert(rows.map(_.getAs[Long]("n_hits")).sum === top._2)
  }

  test("vocab growth: checkpoints are cumulative, monotone, and match a driver recompute") {
    val rows = TextOps.vocabGrowth(spark, Sf0001).collect().sortBy(_.getAs[Long]("bucket"))
    assert(rows.length === 10)
    val docToks = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => (r.getLong(0),
        r.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
      .sortBy(_._1)
    val n = docToks.length; val q = n / 10; val rem = n % 10
    val bounds = (1 to 10).map { k =>
      // NTILE(10) bucket k's last row index (1-based ranks)
      val hi = if (k <= rem) k * (q + 1) else rem * (q + 1) + (k - rem) * q
      k.toLong -> docToks(hi - 1)._1
    }
    val firstDoc = docToks.flatMap { case (d, ts) => ts.distinct.map(t => (t, d)) }
      .groupBy(_._1).map { case (t, v) => t -> v.map(_._2).min }
    rows.zip(bounds).foreach { case (r, (k, bound)) =>
      assert(r.getAs[Long]("bucket") === k)
      assert(r.getAs[Long]("bound") === bound)
      val in = docToks.filter(_._1 <= bound)
      assert(r.getAs[Long]("cum_docs") === in.length.toLong)
      assert(r.getAs[Long]("cum_tokens") === in.map(_._2.length.toLong).sum)
      assert(r.getAs[Long]("cum_vocab") === firstDoc.values.count(_ <= bound).toLong)
    }
    // Heaps-law shape: strictly more docs per bucket, non-decreasing vocab
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("cum_docs") < b.getAs[Long]("cum_docs"))
        assert(a.getAs[Long]("cum_vocab") <= b.getAs[Long]("cum_vocab"))
        assert(a.getAs[Long]("cum_tokens") <= b.getAs[Long]("cum_tokens"))
      case _ => ()
    }
    assert(rows.last.getAs[Long]("cum_docs") === n.toLong)
  }

  test("sorted neighborhood: pairs come from the window, jaccard matches raw shingle sets") {
    val rows = DedupOps.sortedNeighborhood(spark, Sf0001).collect()
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val keyed = docs
      .map { case (d, t) => (d, t.replaceAll("[^\\p{L}]+", "").take(16)) }
      .sortBy { case (d, k) => (k, d) }
    val cand = keyed.indices.flatMap { i =>
      Seq(i + 1, i + 2).filter(_ < keyed.length).map { j =>
        val (a, b) = (keyed(i)._1, keyed(j)._1)
        (math.min(a, b), math.max(a, b))
      }
    }.toSet
    val shingleSets = docs.map { case (d, t) =>
      val ts = t.split("[^\\p{L}]+").filter(_.nonEmpty)
      d -> ts.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val expect = cand.toSeq.flatMap { case (a, b) =>
      val (sa, sb) = (shingleSets(a), shingleSets(b))
      if (sa.isEmpty || sb.isEmpty) None
      else {
        val j = (sa & sb).size.toDouble / (sa | sb).size.toDouble
        if (j >= 0.5) Some(((a, b), j)) else None
      }
    }.toMap
    assert(rows.length === expect.size)
    rows.foreach { r =>
      val k = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(cand.contains(k))
      assert(r.getAs[Double]("jaccard") === expect(k))
    }
  }

  test("ab test: arm counts and z match a driver recompute; arms partition users") {
    val rows = EventOps.abTest(spark, Sf0001).collect()
    assert(rows.length === 1)
    val r = rows.head
    val np = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_type")).collect()
      .map(x => (x.getLong(0), x.getString(1)))
      .groupBy(_._1).map { case (u, es) => (u, es.count(_._2 == "purchase").toLong) }
    // lower median: smallest np with running count reaching half
    val sortedNp = np.values.toSeq.sorted
    val cutoff = sortedNp((np.size - 1) / 2)
    assert(r.getAs[Long]("cutoff") === cutoff)
    val perUser = np.map { case (u, n) => (u, n >= cutoff) }
    def arm(u: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(u.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15), 16) % 2
    val a = perUser.filter(x => arm(x._1) == 0)
    val b = perUser.filter(x => arm(x._1) == 1)
    assert(r.getAs[Long]("n_a") === a.size.toLong)
    assert(r.getAs[Long]("n_b") === b.size.toLong)
    assert(r.getAs[Long]("conv_a") === a.count(_._2).toLong)
    assert(r.getAs[Long]("conv_b") === b.count(_._2).toLong)
    val (na, ca, nb, cb) = (a.size.toLong, a.count(_._2).toLong, b.size.toLong, b.count(_._2).toLong)
    assert(ca + cb > 0L && ca + cb < na + nb) // metric keeps variance
    assert(r.getAs[Long]("delta_scaled") === ca * nb - cb * na)
    assert(r.getAs[Double]("rate_a") === ca.toDouble / na.toDouble)
    assert(r.getAs[Double]("rate_b") === cb.toDouble / nb.toDouble)
    val p = (ca + cb).toDouble / (na + nb).toDouble
    val z = (ca.toDouble / na.toDouble - cb.toDouble / nb.toDouble) /
      math.sqrt(p * (1.0 - p) * (1.0 / na.toDouble + 1.0 / nb.toDouble))
    assert(r.getAs[Double]("z_stat") === z)
  }

  test("cluster size hist: partitions the corpus, matches the cluster table") {
    val rows = GraphOps.clusterSizeHist(spark, Sf0001).collect()
    val clusters = GraphOps.dedupClusters(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("canonical_id"), r.getAs[Long]("cluster_size")))
    val nTotal = Tables.documents(spark, Sf0001).count()
    val bySize = clusters.groupBy(_._3).map { case (s, cs) =>
      s -> ((cs.map(_._2).distinct.length.toLong, cs.length.toLong))
    }
    val singles = nTotal - clusters.length
    rows.foreach { r =>
      val s = r.getAs[Long]("cluster_size")
      if (s == 1L) {
        assert(r.getAs[Long]("n_clusters") === singles)
        assert(r.getAs[Long]("n_docs") === singles)
      } else {
        val (nc, nd) = bySize(s)
        assert(r.getAs[Long]("n_clusters") === nc)
        assert(r.getAs[Long]("n_docs") === nd)
        assert(nd === s * nc) // every cluster of size s holds s docs
      }
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nTotal)
    assert(rows.count(_.getAs[Long]("cluster_size") == 1L) === 1)
  }

  test("dup by source: membership counts match, ppm exact, totals conserved") {
    val rows = GraphOps.dupBySource(spark, Sf0001).collect()
    val clustered = GraphOps.dedupClusters(spark, Sf0001).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bySource = docs.groupBy(_._2).map { case (s, ds) =>
      s -> ((ds.length.toLong, ds.count(d => clustered(d._1)).toLong))
    }
    assert(rows.length === bySource.size)
    rows.foreach { r =>
      val (nd, dup) = bySource(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("n_dup") === dup)
      assert(r.getAs[Long]("dup_ppm") === dup * 1000000L / nd)
    }
    assert(rows.map(_.getAs[Long]("n_dup")).sum === clustered.size.toLong)
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.length.toLong)
  }

  test("doclen hist: bands partition docs, bounds inside band ranges") {
    val rows = TextOps.doclenHist(spark, Sf0001).collect()
    val lens = Tables.documents(spark, Sf0001)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0),
        r.getString(1).split("[^\\p{L}]+").count(_.nonEmpty).toLong))
    def band(n: Long): Long = if (n == 0) 0L else 64 - java.lang.Long.numberOfLeadingZeros(n)
    val grid = lens.groupBy(x => (x._1, band(x._2))).map { case (k, v) =>
      k -> ((v.size.toLong, v.map(_._2).sum, v.map(_._2).min, v.map(_._2).max))
    }
    assert(rows.length === grid.size)
    rows.foreach { r =>
      val k = (r.getAs[String]("source"), r.getAs[Long]("band"))
      val (nd, nt, lo, hi) = grid(k)
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("n_tokens") === nt)
      assert(r.getAs[Long]("min_len") === lo)
      assert(r.getAs[Long]("max_len") === hi)
      // band b covers [2^(b-1), 2^b - 1]
      if (k._2 > 0) {
        assert(lo >= (1L << (k._2 - 1).toInt))
        assert(hi < (1L << k._2.toInt))
      }
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum === lens.length.toLong)
  }

  test("scene cuts: per-media counts match a driver frame scan") {
    val rows = MultimodalOps.sceneCuts(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 64)
    val expect = texts.map { case (id, t) =>
      val energies = (0 until t.length / 64).map { w =>
        (0 until 64).map(i => t.charAt(w * 64 + i).toLong).sum
      }
      val deltas = energies.sliding(2).collect { case Seq(a, b) => math.abs(b - a) }.toSeq
      id -> ((energies.length.toLong, deltas.count(_ > 512L).toLong,
        if (deltas.isEmpty) 0L else deltas.max))
    }.toMap
    assert(rows.length === expect.size)
    rows.foreach { r =>
      val (nf, nc, md) = expect(r.getAs[Long]("media_id"))
      assert(r.getAs[Long]("n_frames") === nf)
      assert(r.getAs[Long]("n_cuts") === nc)
      assert(r.getAs[Long]("max_delta") === md)
    }
  }

  test("hazard table: at-risk counts telescope, observations conserved") {
    val rows = RelationalOps.hazardTable(spark, Sf0001).collect().sortBy(_.getAs[Long]("t_days"))
    assert(rows.nonEmpty)
    val ords = Tables.orders(spark, Sf0001)
      .select(col("o_custkey"), col("o_orderkey"), expr("unix_timestamp(o_orderdate) DIV 86400"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val maxDay = ords.map(_._3).max
    val obs = ords.groupBy(_._1).toSeq.flatMap { case (_, os) =>
      val days = os.sortBy(o => (o._3, o._2)).map(_._3)
      val gaps = days.sliding(2).collect { case Array(a, b) => (b - a, true) }.toSeq
      gaps :+ ((maxDay - days.last, false))
    }
    val byT = obs.groupBy(_._1).map { case (t, v) =>
      t -> ((v.count(_._2).toLong, v.count(!_._2).toLong))
    }
    assert(rows.length === byT.size)
    rows.foreach { r =>
      val t = r.getAs[Long]("t_days")
      val (d, c) = byT(t)
      assert(r.getAs[Long]("d_events") === d)
      assert(r.getAs[Long]("n_censored") === c)
      assert(r.getAs[Long]("n_risk") === obs.count(_._1 >= t).toLong)
      assert(r.getAs[Long]("hazard_ppm") === d * 1000000L / obs.count(_._1 >= t))
    }
    // telescoping: risk at t(i+1) = risk at t(i) - tot at t(i)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("n_risk") ===
          a.getAs[Long]("n_risk") - a.getAs[Long]("d_events") - a.getAs[Long]("n_censored"))
      case _ => ()
    }
    assert(rows.head.getAs[Long]("n_risk") === obs.length.toLong)
    assert(rows.map(r => r.getAs[Long]("d_events") + r.getAs[Long]("n_censored")).sum ===
      obs.length.toLong)
  }

  test("zone pruning: clustered layout prunes, key layout does not; rows conserved") {
    val rows = RelationalOps.zonePruning(spark, Sf0001).collect()
    assert(rows.length === 2)
    val byLayout = rows.map(r => r.getAs[String]("layout") -> r).toMap
    val prices = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0),
        (BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val nHot = prices.count(_._2 >= 45000000L).toLong
    rows.foreach { r =>
      assert(r.getAs[Long]("n_zones") === 64L)
      assert(r.getAs[Long]("n_rows") === prices.length.toLong)
      assert(r.getAs[Long]("n_rows_scanned") >= nHot) // scan is a superset of hits
      assert(r.getAs[Long]("scan_ppm") ===
        r.getAs[Long]("n_rows_scanned") * 1000000L / r.getAs[Long]("n_rows"))
    }
    val kp = byLayout("key_order"); val pp = byLayout("price_order")
    // clustered layout confines hot rows to the minimal zone suffix
    val zoneCap = (prices.length + 63) / 64
    assert(pp.getAs[Long]("n_scanned_zones") <= nHot / math.max(1, prices.length / 64 - 1) + 2)
    assert(pp.getAs[Long]("n_scanned_zones") <= kp.getAs[Long]("n_scanned_zones"))
    assert(pp.getAs[Long]("n_rows_scanned") < prices.length.toLong)
    assert(zoneCap > 0)
  }

  test("theilsen trend: median slope matches a driver pair scan") {
    val rows = EventOps.theilsenTrend(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("ts DIV 86400000000000"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        (BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(x => (x._1, x._2)).map { case ((t, d), vs) => (t, d, vs.map(_._3).sum) }
      .toSeq
    val byType = daily.groupBy(_._1)
    assert(rows.length === byType.size)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val days = byType(t).sortBy(_._2)
      val pairs = for {
        i <- days.indices; j <- (i + 1) until days.length
      } yield (days(j)._3 - days(i)._3, days(j)._2 - days(i)._2)
      val ranked = pairs
        .map { case (dy, dx) => (dy.toDouble / dx.toDouble, dy, dx) }
        .sortBy(identity)
      val med = ranked((pairs.length + 1) / 2 - 1)
      assert(r.getAs[Long]("n_days") === days.length.toLong)
      assert(r.getAs[Long]("n_pairs") === pairs.length.toLong)
      assert(r.getAs[Long]("med_dy") === med._2)
      assert(r.getAs[Long]("med_dx") === med._3)
      assert(r.getAs[Double]("slope") === med._1)
    }
  }

  test("session entry-exit: matrix conserves sessionize's session and event totals") {
    val rows = EventOps.sessionEntryExit(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val sessions = EventOps.sessionize(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_sessions")).sum === sessions.length.toLong)
    assert(rows.map(_.getAs[Long]("n_events")).sum ===
      sessions.map(_.getAs[Long]("n_events")).sum)
    // exact duration mass equals sessionize's end-start sum
    assert(rows.map(_.getAs[Long]("sum_dur_us")).sum ===
      sessions.map(s => s.getAs[Long]("end_us") - s.getAs[Long]("start_us")).sum)
    // single-event sessions must land on the diagonal
    val diag = rows.filter(r => r.getAs[String]("entry_type") == r.getAs[String]("exit_type"))
      .map(_.getAs[Long]("n_sessions")).sum
    assert(diag >= sessions.count(_.getAs[Long]("n_events") == 1L).toLong)
  }

  test("lsh band sweep: monotone candidates in band count, 4x3 row matches minhashLsh") {
    val rows = DedupOps.lshBandSweep(spark, Sf0001).collect()
      .map(r => r.getAs[String]("config") -> r).toMap
    assert(rows.keySet === Set("2x6", "4x3", "6x2"))
    // more bands = looser OR over bands = at least as many candidates
    assert(rows("2x6").getAs[Long]("n_candidates") <= rows("4x3").getAs[Long]("n_candidates"))
    assert(rows("4x3").getAs[Long]("n_candidates") <= rows("6x2").getAs[Long]("n_candidates"))
    // verified survivors can only grow with the candidate set too
    assert(rows("2x6").getAs[Long]("n_verified") <= rows("4x3").getAs[Long]("n_verified"))
    assert(rows("4x3").getAs[Long]("n_verified") <= rows("6x2").getAs[Long]("n_verified"))
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_verified") <= r.getAs[Long]("n_candidates"))
      val (nc, nv) = (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_verified"))
      assert(r.getAs[Long]("precision_ppm") === (if (nc == 0) 0L else nv * 1000000L / nc))
    }
    // the 4x3 config is exactly minhashLsh's banding; its verified set
    // at J>=0.5 must be a superset of the registered J>=0.7 pairs
    val lsh07 = DedupOps.minhashLsh(spark, Sf0001).count()
    assert(rows("4x3").getAs[Long]("n_verified") >= lsh07)
  }

  test("embedding qa: per-label stats match a driver scan of raw vectors") {
    val rows = SimilarityOps.embeddingQa(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val vecs = Tables.embeddings(spark, Sf0001)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Float](1)))
    val byLabel = vecs.groupBy(_._1)
    assert(rows.length === byLabel.size)
    rows.foreach { r =>
      val vs = byLabel(r.getAs[Long]("label")).map(_._2)
      assert(r.getAs[Long]("n_vecs") === vs.length.toLong)
      assert(r.getAs[Long]("n_dims_min") === vs.map(_.length).min.toLong)
      assert(r.getAs[Long]("n_dims_max") === vs.map(_.length).max.toLong)
      assert(r.getAs[Long]("n_zero_vecs") === vs.count(_.forall(_ == 0f)).toLong)
      assert(r.getAs[Long]("n_nan_dims") === vs.map(_.count(_.isNaN)).sum.toLong)
      val qs = vs.flatten.map(v =>
        BigDecimal(v.toDouble * 1000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact)
      assert(r.getAs[Long]("min_q") === qs.min)
      assert(r.getAs[Long]("max_q") === qs.max)
    }
  }

  test("mm clusters: components cover exactly the paired media, labels are set minima") {
    val rows = MultimodalOps.mmClusters(spark, Sf0001).collect()
    val pairs = MultimodalOps.aHashPairs(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")))
    assert(rows.nonEmpty === pairs.nonEmpty)
    // driver union-find over the same pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = parent.keys.map(m => m -> find(m)).toMap
    assert(rows.length === expect.size)
    val byCluster = expect.groupBy(_._2)
    rows.foreach { r =>
      val m = r.getAs[Long]("media_id")
      assert(r.getAs[Long]("canonical_id") === expect(m))
      assert(r.getAs[Long]("cluster_size") === byCluster(expect(m)).size.toLong)
      assert(r.getAs[Boolean]("is_canonical") === (m == expect(m)))
    }
  }

  test("funnel windowed: stages are a subset of the unbounded funnel's") {
    val bounded = EventOps.funnelWindowed(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val free = EventOps.funnelStages(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(bounded.keySet === free.keySet)
    bounded.foreach { case (u, b) =>
      val f = free(u)
      // the window can only DEMOTE a user, never promote
      assert(b.getAs[Long]("stage") <= f.getAs[Long]("stage"))
      assert(b.getAs[Long]("first_view_us") === f.getAs[Long]("first_view_us"))
      // a bounded click, when present, is within 24 h of the view and
      // at or after the unbounded first click
      if (b.getAs[Long]("stage") >= 2) {
        assert(b.getAs[Long]("first_click_us") >= f.getAs[Long]("first_click_us"))
        assert(b.getAs[Long]("first_click_us") - b.getAs[Long]("first_view_us") <=
          EventOps.FunnelWindowUs)
      }
      if (b.getAs[Long]("stage") == 3) {
        assert(b.getAs[Long]("first_purchase_us") - b.getAs[Long]("first_click_us") <=
          EventOps.FunnelWindowUs)
      }
    }
    // the window must actually bite somewhere at this SF
    assert(bounded.values.map(_.getAs[Long]("stage")).sum <=
      free.values.map(_.getAs[Long]("stage")).sum)
  }

  test("seasonal decompose: residuals zero-sum within each (type, weekday) cell") {
    val rows = EventOps.seasonalDecompose(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("wd") === (r.getAs[Long]("day") + 4) % 7)
      assert(r.getAs[Long]("resid_scaled") ===
        r.getAs[Long]("sum_c") * r.getAs[Long]("wd_n") - r.getAs[Long]("wd_sum_c"))
      assert(r.getAs[Double]("resid") ===
        r.getAs[Long]("sum_c").toDouble -
          r.getAs[Long]("wd_sum_c").toDouble / r.getAs[Long]("wd_n").toDouble)
    }
    // the weekday mean is the within-cell average: scaled residuals
    // sum to zero per (type, wd), and each cell's n/sum are consistent
    rows.groupBy(r => (r.getAs[String]("event_type"), r.getAs[Long]("wd"))).foreach {
      case (_, cell) =>
        assert(cell.map(_.getAs[Long]("resid_scaled")).sum === 0L)
        assert(cell.length.toLong === cell.head.getAs[Long]("wd_n"))
        assert(cell.map(_.getAs[Long]("sum_c")).sum === cell.head.getAs[Long]("wd_sum_c"))
    }
  }

  test("graph degree hist: bands conserve nodes and edge endpoints") {
    val rows = GraphOps.degreeHist(spark, Sf0001).collect()
    val pairs = DedupOps.minhashLsh(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(rows.nonEmpty === pairs.nonEmpty)
    val degrees = (pairs.map(_._1) ++ pairs.map(_._2)).groupBy(identity)
      .map { case (_, v) => v.size.toLong }
    assert(rows.map(_.getAs[Long]("n_nodes")).sum === degrees.size.toLong)
    // handshake lemma: total degree = 2 |edges|
    assert(rows.map(_.getAs[Long]("sum_degree")).sum === 2L * pairs.length)
    rows.foreach { r =>
      val b = r.getAs[Long]("band")
      assert(r.getAs[Long]("min_degree") >= (1L << (b - 1).toInt))
      assert(r.getAs[Long]("max_degree") < (1L << b.toInt))
      assert(r.getAs[Long]("n_nodes") === degrees.count(d =>
        d >= (1L << (b - 1).toInt) && d < (1L << b.toInt)).toLong)
    }
  }

  test("xcorr types: lag-0 r matches a driver Pearson; r bounded; pairs ordered") {
    val rows = EventOps.xcorrTypes(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("ts DIV 86400000000000"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        (BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(x => (x._1, x._2)).map { case ((t, d), vs) => ((t, d), vs.map(_._3).sum) }
    rows.foreach { r =>
      assert(r.getAs[String]("type_a") < r.getAs[String]("type_b"))
      assert(math.abs(r.getAs[Double]("r")) <= 1.0 + 1e-12)
      assert(r.getAs[Long]("n") >= 8L)
      val (ta, tb, lag) =
        (r.getAs[String]("type_a"), r.getAs[String]("type_b"), r.getAs[Long]("lag"))
      val xs = daily.collect { case ((t, d), v) if t == ta => (d, v) }.toMap
      val ys = daily.collect { case ((t, d), v) if t == tb => (d, v) }.toMap
      val matched = xs.toSeq.flatMap { case (d, x) => ys.get(d + lag).map(y => (x, y)) }
      assert(r.getAs[Long]("n") === matched.length.toLong)
      val n = matched.length.toDouble
      val (sx, sy) = (matched.map(_._1.toDouble).sum, matched.map(_._2.toDouble).sum)
      val sxy = matched.map(p => p._1.toDouble * p._2.toDouble).sum
      val sx2 = matched.map(p => p._1.toDouble * p._1.toDouble).sum
      val sy2 = matched.map(p => p._2.toDouble * p._2.toDouble).sum
      val denom = math.sqrt(n * sx2 - sx * sx) * math.sqrt(n * sy2 - sy * sy)
      if (denom > 0) {
        // tolerance: the driver recompute sums doubles in arbitrary
        // order; the operator's moments are decimal-exact
        assert(math.abs(r.getAs[Double]("r") - (n * sxy - sx * sy) / denom) < 1e-9)
      }
    }
  }

  test("minhash calibration: n_match counts signature agreement, est within sketch bounds") {
    val rows = DedupOps.minhashCalibration(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nm = r.getAs[Long]("n_match")
      assert(nm >= 0L && nm <= 12L)
      assert(r.getAs[Double]("est") === nm.toDouble / 12.0)
      assert(r.getAs[Double]("jaccard") >= 0.5)
      assert(r.getAs[Double]("abs_err") ===
        math.abs(r.getAs[Double]("est") - r.getAs[Double]("jaccard")))
      // banded candidates share at least one band = 3 consecutive sigs
      assert(nm >= 3L)
    }
    // calibration property: mean error stays inside ~3 sigma of the
    // k=12 sketch bound sqrt(J(1-J)/12) <= 0.145
    val meanErr = rows.map(_.getAs[Double]("abs_err")).sum / rows.length
    assert(meanErr <= 3 * 0.145)
  }

  test("keyset page: seek result equals the offset page 41-60 exactly") {
    val rows = RelationalOps.keysetPage(spark, Sf0001).collect().sortBy(_.getAs[Long]("rn"))
    assert(rows.length === 20)
    val all = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0),
        (BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .sortBy { case (k, p) => (-p, k) }
    rows.zipWithIndex.foreach { case (r, i) =>
      val (k, p) = all(40 + i)
      assert(r.getAs[Long]("rn") === 41L + i)
      assert(r.getAs[Long]("o_orderkey") === k)
      assert(r.getAs[Long]("price_c") === p)
    }
  }

  test("stratified kfold: every cell balanced to floor/ceil, folds partition each stratum") {
    val rows = TextOps.stratifiedKfold(spark, Sf0001).collect()
    val langs = Tables.documents(spark, Sf0001)
      .select(col("lang")).collect().map(_.getString(0))
    val byLang = langs.groupBy(identity).map { case (l, v) => l -> v.size.toLong }
    assert(rows.map(_.getAs[Long]("n_docs")).sum === langs.length.toLong)
    rows.foreach { r =>
      val total = byLang(r.getAs[String]("lang"))
      assert(r.getAs[Long]("lang_total") === total)
      val base = total / 5
      assert(r.getAs[Long]("n_docs") === base || r.getAs[Long]("n_docs") === base + 1)
      assert(r.getAs[Boolean]("balanced"))
      assert(r.getAs[Long]("n_docs") === r.getAs[Long]("expected"))
    }
    // every stratum with >= 5 docs uses all 5 folds
    rows.groupBy(_.getAs[String]("lang")).foreach { case (l, cells) =>
      if (byLang(l) >= 5) assert(cells.map(_.getAs[Long]("fold")).toSet === Set(0L, 1L, 2L, 3L, 4L))
    }
  }

  test("spike days: flagged rows match a driver MAD recompute over seasonal residuals") {
    val spikes = EventOps.spikeDays(spark, Sf0001).collect()
    val resid = EventOps.seasonalDecompose(spark, Sf0001)
      .select(col("event_type"), col("day"), col("resid_scaled"), col("wd_n")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getAs[Long]("resid_scaled") / r.getAs[Long]("wd_n")))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val expect = resid.groupBy(_._1).toSeq.flatMap { case (t, rs) =>
      val med = median(rs.toSeq.map(_._3.toDouble))
      val devs = rs.toSeq.map(r => (r._2, r._3, math.abs(r._3.toDouble - med)))
      val mad = median(devs.map(_._3))
      devs.filter(_._3 > 3.0 * 1.4826 * mad).map(d => ((t, d._1), (d._2, d._3, med, mad)))
    }.toMap
    assert(spikes.length === expect.size)
    spikes.foreach { r =>
      val k = (r.getAs[String]("event_type"), r.getAs[Long]("day"))
      val (rq, dev, med, mad) = expect(k)
      assert(r.getAs[Long]("resid_q") === rq)
      assert(r.getAs[Double]("dev") === dev)
      assert(r.getAs[Double]("med_q") === med)
      assert(r.getAs[Double]("mad_q") === mad)
    }
  }

  test("cluster edge stats: edges conserved, density bounded, clique clusters at 1e6") {
    val rows = GraphOps.clusterEdgeStats(spark, Sf0001).collect()
    val edges = DedupOps.minhashLsh(spark, Sf0001).count()
    assert(rows.map(_.getAs[Long]("n_edges")).sum === edges)
    rows.foreach { r =>
      val size = r.getAs[Long]("cluster_size")
      val e = r.getAs[Long]("n_edges")
      assert(size >= 2L)
      // a connected component on `size` nodes has between size-1 and
      // size(size-1)/2 edges
      assert(e >= size - 1)
      assert(e <= size * (size - 1) / 2)
      assert(r.getAs[Long]("density_ppm") === e * 2 * 1000000L / (size * (size - 1)))
      assert(r.getAs[Long]("density_ppm") <= 1000000L)
      if (size == 2L) assert(r.getAs[Long]("density_ppm") === 1000000L)
      assert(r.getAs[Double]("min_j") <= r.getAs[Double]("max_j"))
      assert(r.getAs[Double]("min_j") >= 0.7) // the minhashLsh verify threshold
    }
  }

  test("max drawdown: matches a driver cumulative scan, trough is earliest max") {
    val rows = EventOps.maxDrawdown(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("ts DIV 86400000000000"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        (BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(x => (x._1, x._2)).map { case ((t, d), vs) => (t, d, vs.map(_._3).sum) }
      .toSeq.groupBy(_._1)
    assert(rows.length === daily.size)
    rows.foreach { r =>
      val series = daily(r.getAs[String]("event_type")).sortBy(_._2)
      var cum = 0L; var peak = Long.MinValue
      var best = (Long.MinValue, 0L, 0L, 0L) // (dd, day, peak, cum)
      series.foreach { case (_, d, v) =>
        cum += v; peak = math.max(peak, cum)
        val dd = peak - cum
        if (dd > best._1) best = (dd, d, peak, cum)
      }
      assert(r.getAs[Long]("n_days") === series.length.toLong)
      assert(r.getAs[Long]("max_dd_c") === best._1)
      assert(r.getAs[Long]("trough_day") === best._2)
      assert(r.getAs[Long]("peak_c") === best._3)
      assert(r.getAs[Long]("cum_at_trough_c") === best._4)
      assert(r.getAs[Long]("max_dd_c") >= 0L)
    }
  }

  test("funnel latency: n matches stage-3 population, quantiles ordered and bounded") {
    val rows = EventOps.funnelLatency(spark, Sf0001).collect()
    assert(rows.length === 1)
    val r = rows.head
    val s3 = EventOps.funnelWindowed(spark, Sf0001).filter(col("stage") === 3).collect()
    assert(r.getAs[Long]("n_converted") === s3.length.toLong)
    val vc = s3.map(x => x.getAs[Long]("first_click_us") - x.getAs[Long]("first_view_us"))
    val cp = s3.map(x => x.getAs[Long]("first_purchase_us") - x.getAs[Long]("first_click_us"))
    assert(r.getAs[Double]("vc_p50_us") <= r.getAs[Double]("vc_p90_us"))
    assert(r.getAs[Double]("cp_p50_us") <= r.getAs[Double]("cp_p90_us"))
    assert(r.getAs[Long]("vc_max_us") === vc.max)
    assert(r.getAs[Long]("cp_max_us") === cp.max)
    // all delays respect the 24 h funnel window
    assert(vc.max <= EventOps.FunnelWindowUs && cp.max <= EventOps.FunnelWindowUs)
    // driver median recompute (interpolated, same grid)
    def p(xs: Seq[Long], f: Double): Double = {
      val s = xs.sorted; val pos = (s.length - 1) * f
      val lo = s(pos.toInt); val hi = s(math.ceil(pos).toInt)
      lo + (hi - lo) * (pos - pos.toInt)
    }
    assert(r.getAs[Double]("vc_p50_us") === p(vc.toSeq, 0.5))
    assert(r.getAs[Double]("cp_p50_us") === p(cp.toSeq, 0.5))
  }

  test("consonant runs: per-source flags match a driver regex scan") {
    val rows = TextOps.consonantRuns(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, Sf0001)
      .select(col("source"), lower(col("text"))).collect()
      .map { r =>
        val runs = "[bcdfghjklmnpqrstvwxyz]+".r.findAllIn(r.getString(1)).map(_.length).toSeq
        (r.getString(0), if (runs.isEmpty) 0L else runs.max.toLong)
      }
    val bySource = docs.groupBy(_._1)
    assert(rows.length === bySource.size)
    rows.foreach { r =>
      val runs = bySource(r.getAs[String]("source")).map(_._2)
      assert(r.getAs[Long]("n_docs") === runs.length.toLong)
      assert(r.getAs[Long]("n_flagged") === runs.count(_ >= 8L).toLong)
      assert(r.getAs[Long]("max_run") === runs.max)
      assert(r.getAs[Long]("flag_ppm") === runs.count(_ >= 8L).toLong * 1000000L / runs.length)
    }
  }

  test("bounce rate: totals agree with the entry-exit matrix and sessionize") {
    val rows = EventOps.bounceRate(spark, Sf0001).collect()
    val sessions = EventOps.sessionize(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_sessions")).sum === sessions.length.toLong)
    assert(rows.map(_.getAs[Long]("n_bounces")).sum ===
      sessions.count(_.getAs[Long]("n_events") == 1L).toLong)
    val matrix = EventOps.sessionEntryExit(spark, Sf0001).collect()
    val perEntry = matrix.groupBy(_.getAs[String]("entry_type"))
      .map { case (t, rs) => t -> rs.map(_.getAs[Long]("n_sessions")).sum }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sessions") === perEntry(r.getAs[String]("entry_type")))
      assert(r.getAs[Long]("n_bounces") <= r.getAs[Long]("n_sessions"))
      assert(r.getAs[Long]("bounce_ppm") ===
        r.getAs[Long]("n_bounces") * 1000000L / r.getAs[Long]("n_sessions"))
    }
  }

  test("stickiness: ratio bounded by 1e6, counts match a driver distinct scan") {
    val rows = EventOps.stickiness(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val du = Tables.events(spark, Sf0001)
      .select(expr("ts DIV 86400000000000"), col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val byWeek = du.groupBy(_._1 / 7)
    assert(rows.length === byWeek.size)
    rows.foreach { r =>
      val wk = byWeek(r.getAs[Long]("week"))
      val days = wk.map(_._1).distinct
      assert(r.getAs[Long]("n_days") === days.length.toLong)
      assert(r.getAs[Long]("wau") === wk.map(_._2).distinct.length.toLong)
      assert(r.getAs[Long]("sum_dau") === wk.length.toLong) // distinct (day,user) pairs
      assert(r.getAs[Long]("stickiness_ppm") ===
        wk.length.toLong * 1000000L / (days.length.toLong * wk.map(_._2).distinct.length))
      assert(r.getAs[Long]("stickiness_ppm") <= 1000000L)
    }
  }

  test("rolling zscore: z matches a driver trailing-window recompute") {
    val rows = EventOps.rollingZscore(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("ts DIV 86400000000000"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        (BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(x => (x._1, x._2)).map { case ((t, d), vs) => (t, d, vs.map(_._3).sum) }
      .toSeq.groupBy(_._1).map { case (t, s) => t -> s.sortBy(_._2) }
    val got = rows.map(r => ((r.getAs[String]("event_type"), r.getAs[Long]("day")), r)).toMap
    var checked = 0
    daily.foreach { case (t, series) =>
      series.zipWithIndex.foreach { case ((_, d, x), i) =>
        val win = series.slice(math.max(0, i - 14), i)
        if (win.length >= 7) {
          val r = got((t, d))
          val n = win.length.toDouble
          val sx = win.map(w => BigDecimal(w._3)).sum.toDouble
          val sx2 = win.map(w => BigDecimal(w._3) * BigDecimal(w._3)).sum.toDouble
          val varN = n * sx2 - sx * sx
          val expectZ =
            if (varN <= 0.0) 0.0
            else (x.toDouble - sx / n) / math.sqrt(varN / (n * (n - 1.0)))
          assert(r.getAs[Long]("n_prior") === win.length.toLong)
          assert(r.getAs[Double]("z") === expectZ)
          checked += 1
        } else assert(!got.contains((t, d)))
      }
    }
    assert(checked === rows.length)
  }

  test("tier migration: matrix partitions all customers, tiers match a driver NTILE") {
    val rows = RelationalOps.tierMigration(spark, Sf0001).collect()
    val o = Tables.orders(spark, Sf0001)
      .select(col("o_custkey"), expr("unix_timestamp(o_orderdate) DIV 86400"), col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        (BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val mid = (o.map(_._2).min + o.map(_._2).max + 1) / 2
    def tiers(half: Seq[(Long, Long)]): Map[Long, Long] = {
      val n = half.length; val q = n / 5; val rem = n % 5
      half.sortBy { case (c, s) => (s, c) }.zipWithIndex.map { case ((c, _), i) =>
        val b = if (i < (q + 1) * rem) i / (q + 1) + 1 else (i - (q + 1) * rem) / q + rem + 1
        c -> b.toLong
      }.toMap
    }
    val h1 = tiers(o.filter(_._2 < mid).groupBy(_._1).toSeq
      .map { case (c, os) => (c, os.map(_._3).sum) })
    val h2 = tiers(o.filter(_._2 >= mid).groupBy(_._1).toSeq
      .map { case (c, os) => (c, os.map(_._3).sum) })
    val expect = (h1.keySet ++ h2.keySet).toSeq
      .map(c => (h1.getOrElse(c, 0L), h2.getOrElse(c, 0L)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(rows.length === expect.size)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_customers") ===
        expect((r.getAs[Long]("tier_h1"), r.getAs[Long]("tier_h2"))))
    }
    assert(rows.map(_.getAs[Long]("n_customers")).sum === (h1.keySet ++ h2.keySet).size.toLong)
  }

  test("percolation sweep: monotone edge/component structure across thresholds") {
    val rows = GraphOps.percolationSweep(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("threshold_pm") -> r).toMap
    assert(rows.keySet === Set(700L, 800L, 900L))
    val pairs = DedupOps.minhashLsh(spark, Sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    Seq(700L, 800L, 900L).foreach { t =>
      val r = rows(t)
      val edges = pairs.filter(_._3 >= t.toDouble / 1000.0)
      assert(r.getAs[Long]("n_edges") === edges.length.toLong)
      assert(r.getAs[Long]("n_nodes") ===
        (edges.map(_._1) ++ edges.map(_._2)).distinct.length.toLong)
      assert(r.getAs[Long]("max_component") <= r.getAs[Long]("n_nodes"))
      if (r.getAs[Long]("n_nodes") > 0) {
        assert(r.getAs[Long]("n_components") >= 1L)
        assert(r.getAs[Long]("max_component") >= 2L)
      }
    }
    // raising the bar can only shrink the graph
    assert(rows(800L).getAs[Long]("n_edges") <= rows(700L).getAs[Long]("n_edges"))
    assert(rows(900L).getAs[Long]("n_edges") <= rows(800L).getAs[Long]("n_edges"))
    assert(rows(800L).getAs[Long]("max_component") <= rows(700L).getAs[Long]("max_component"))
  }

  /** Driver-side winnowing recompute shared by both winnowing specs. */
  private def winnowDriver(): Map[Long, (Long, Set[Long])] = {
    def fp60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    Tables.documents(spark, Sf0001).select("doc_id", "text").collect().map { r =>
      val toks = r.getString(1).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
      val hs = toks.sliding(DedupOps.WinnowK).filter(_.length == DedupOps.WinnowK)
        .map(g => fp60(g.mkString(" "))).toArray
      val fps = hs.sliding(DedupOps.WinnowW).filter(_.length == DedupOps.WinnowW)
        .map(_.min).toSet
      r.getLong(0) -> (hs.length.toLong, fps)
    }.toMap
  }

  test("winnowing fingerprints: exact driver recompute; selection is sparse but non-empty") {
    val want = winnowDriver()
    val got = DedupOps.winnowingFingerprints(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (id, (nSh, nFp, mn, mx)) =>
      val (wSh, wFps) = want(id)
      assert(nSh === wSh, s"doc $id shingles")
      assert(nFp === wFps.size.toLong, s"doc $id fps")
      assert(mn === (if (wFps.isEmpty) -1L else wFps.min), s"doc $id min")
      assert(mx === (if (wFps.isEmpty) -1L else wFps.max), s"doc $id max")
      // winnowing selects a strict subset of the shingle stream; for
      // any doc spanning >= 2 windows the selection is sparse
      if (wSh >= 2L * DedupOps.WinnowW) assert(nFp < wSh)
    }
    assert(got.values.exists(_._2 > 0), "non-vacuous: some doc has fingerprints")
  }

  test("winnowing pairs: top-25 matches a driver-side posting join with the 2..50 cap") {
    val fps = winnowDriver().view.mapValues(_._2).toMap
    val posts = fps.toSeq.flatMap { case (id, s) => s.map(f => (f, id)) }
    val byFp = posts.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct).toMap
      .filter { case (_, ds) => ds.size >= 2 && ds.size <= DedupOps.WinnowPairCap }
    val pairCnt = byFp.values.toSeq
      .flatMap(ds => for (a <- ds; b <- ds if a < b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = pairCnt.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }
      .take(DedupOps.WinnowTopPairs)
      .map { case ((a, b), n) => (a, b, n) }
      .toSet
    val got = DedupOps.winnowingPairs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.nonEmpty, "non-vacuous at sf0.001")
  }

  test("token burstiness: exact dispersion recompute, top-20 by count") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val d = docs.length.toLong
    val perDoc = docs.flatMap { case (id, t) =>
      t.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).map(w => (w, id))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val byTok = perDoc.groupBy(_._1._1).view.mapValues(_.values.toSeq).toMap
    val want = byTok.view.map { case (tok, cs) =>
      val s1 = cs.sum; val s2 = cs.map(c => c * c).sum
      tok -> (s1, cs.length.toLong, (BigInt(d) * s2 - BigInt(s1) * s1) * 1000000 / (BigInt(d) * s1))
    }.toSeq.sortBy { case (tok, (s1, _, _)) => (-s1, tok) }.take(20).toMap
    val rows = graft.operators.TextOps.tokenBurstiness(spark, Sf0001).collect()
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (s1, df, b) = want(r.getString(0))
      assert(r.getAs[Long]("total_cnt") === s1)
      assert(r.getAs[Long]("doc_freq") === df)
      assert(r.getAs[Long]("n_docs") === d)
      assert(r.getAs[Long]("burstiness_ppm") === b.toLong)
    }
    // dispersion sanity: an evenly spread token (df == D) has var <
    // mean^2 regime; at least one token must clump (ppm > 1e6 - mean)
    assert(rows.map(_.getAs[Long]("burstiness_ppm")).max > 0L)
  }

  private def packCount(text: String): Long = {
    val ascii = text.map(c => if (c >= ' ' && c <= '~') c else ' ')
    "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]".r.findAllIn(ascii).length.toLong
  }

  test("padding waste: exact batch recompute; length-sorting never loses") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), packCount(r.getString(2))))
    def wasteOf(ordered: Seq[Long]): (Long, Long, Long) = {
      val batches = ordered.grouped(TextOps.PadBatch).toSeq
      val total = ordered.sum
      val padded = batches.map(b => b.length * b.max).sum
      (batches.length.toLong, total, padded)
    }
    val want = docs.groupBy(_._2).flatMap { case (src, ds) =>
      val naive = ds.sortBy(_._1).map(_._3).toSeq
      val sorted = ds.sortBy(d => (d._3, d._1)).map(_._3).toSeq
      Seq((src, "naive", wasteOf(naive)), (src, "sorted", wasteOf(sorted)))
    }.map { case (s, st, (nb, t, p)) =>
      (s, st) -> (nb, t, p, (p - t) * 1000000L / p)
    }.toMap
    val rows = TextOps.paddingWaste(spark, Sf0001).collect()
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (nb, t, p, ppm) = want((r.getString(0), r.getString(1)))
      assert(r.getAs[Long]("n_batches") === nb)
      assert(r.getAs[Long]("total_tokens") === t)
      assert(r.getAs[Long]("padded_tokens") === p)
      assert(r.getAs[Long]("waste_ppm") === ppm)
    }
    // the op's reason to exist: per source, sorted waste <= naive waste
    val bySrc = rows.groupBy(_.getString(0))
    bySrc.foreach { case (_, rs) =>
      val m = rs.map(r => r.getString(1) -> r.getAs[Long]("waste_ppm")).toMap
      assert(m("sorted") <= m("naive"))
    }
  }

  test("weighted sample: exact md5-race recompute, 5 per source, bigger docs win") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def coin32(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val want = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.map(d => (src, d._1, d._3, coin32(d._1) * 100000000L / (d._3 + 1)))
        .sortBy(x => (x._4, x._2))
        .take(TextOps.SampleK)
        .zipWithIndex
        .map { case ((s, id, nc, pr), i) => (s, i + 1L) -> (id, nc, pr) }
    }.toMap
    val rows = TextOps.weightedSample(spark, Sf0001).collect()
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (id, nc, pr) = want((r.getString(0), r.getAs[Long]("rank")))
      assert(r.getAs[Long]("doc_id") === id)
      assert(r.getAs[Long]("n_chars") === nc)
      assert(r.getAs[Long]("priority") === pr)
    }
    // weighting sanity: the sampled docs skew long — their mean length
    // beats the corpus mean (prob ∝ n_chars+1)
    val sampledMean = rows.map(_.getAs[Long]("n_chars")).sum.toDouble / rows.length
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    assert(sampledMean > corpusMean * 0.8)
  }

  test("weighted sample A-ES twin: exact c64-race recompute, calibrated key shape") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def coin60(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def prio(id: Long, nChars: Long): Long =
      (64L * 60 - TextOps.c64(coin60(id) + 1)) * 1048576L / (nChars + 1)
    val want = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.map(d => (src, d._1, d._3, prio(d._1, d._3)))
        .sortBy(x => (x._4, x._2))
        .take(TextOps.SampleK)
        .zipWithIndex
        .map { case ((s, id, nc, pr), i) => (s, i + 1L) -> (id, nc, pr) }
    }.toMap
    val rows = TextOps.weightedSampleAes(spark, Sf0001).collect()
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (id, nc, pr) = want((r.getString(0), r.getAs[Long]("rank")))
      assert(r.getAs[Long]("doc_id") === id)
      assert(r.getAs[Long]("n_chars") === nc)
      assert(r.getAs[Long]("priority") === pr)
    }
    // A-ES calibration shape: for a FIXED coin the key is non-increasing
    // in the weight (heavier docs race lower), and the e64 quantization
    // is the only deviation from -ln(u)/w ranking: the integer key
    // ordering matches the exact rational e64/(w) ordering wherever the
    // fixed point does not tie
    val e = 64L * 60 - TextOps.c64(coin60(docs.head._1) + 1)
    val keys = Seq(1L, 10L, 100L, 1000L).map(w => e * 1048576L / (w + 1))
    assert(keys === keys.sorted.reverse)
    // the sampled docs skew long under A-ES too
    val sampledMean = rows.map(_.getAs[Long]("n_chars")).sum.toDouble / rows.length
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    assert(sampledMean > corpusMean * 0.8)
  }

  test("typo rewrite: canonicalization map matches a brute V2 + counts recompute") {
    val toks = Tables.documents(spark, Sf0001).select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split("[^\\p{L}]+").filter(_.length >= 4))
    val cnt = toks.groupBy(identity).map { case (t, o) => t -> o.length.toLong }
    val vocab = cnt.keys.toSeq.sorted
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val exp = vocab.flatMap { t =>
      val cands = vocab.filter(c => c != t && cnt(c) > cnt(t))
        .map(c => (c, lev(t, c))).filter(x => x._2 >= 1 && x._2 <= 2)
      if (cands.isEmpty) None
      else {
        val (c, d) = cands.minBy { case (c, d) => (-cnt(c), d, c) }
        Some((t, cnt(t), c, cnt(c), d.toLong))
      }
    }.toSet
    val got = TextOps.typoRewrite(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === exp)
    assert(got.nonEmpty)
    // canonical targets are strictly heavier and never self-map
    got.foreach { case (t, c0, canon, c1, d) =>
      assert(c1 > c0 && canon != t && d >= 1 && d <= 2)
    }
  }

  test("ngram dup rate: exact sliding-8-gram recompute per source") {
    val docs = Tables.documents(spark, Sf0001).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val grams = docs.flatMap { case (src, t) =>
      val toks = t.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
      toks.sliding(DedupOps.DupRateN).filter(_.length == DedupOps.DupRateN)
        .map(w => (src, w.mkString(" ")))
    }
    val counts = grams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = counts.keys.toSeq.groupBy(_._1).map { case (src, ks) =>
      val cs = ks.map(counts)
      val total = cs.sum; val distinct = cs.size.toLong
      val singles = cs.count(_ == 1L).toLong
      src -> (total, distinct, singles, (total - distinct) * 1000000L / total)
    }
    val rows = DedupOps.ngramDupRate(spark, Sf0001).collect()
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (t, d, s, ppm) = want(r.getString(0))
      assert(r.getAs[Long]("total_grams") === t)
      assert(r.getAs[Long]("distinct_grams") === d)
      assert(r.getAs[Long]("singleton_grams") === s)
      assert(r.getAs[Long]("dup_ppm") === ppm)
    }
    // the synthetic corpus draws from a tiny vocabulary: sliding
    // 8-grams must still be overwhelmingly unique (hash space sanity)
    assert(rows.map(_.getAs[Long]("dup_ppm")).max < 1000000L)
  }

  test("k-anonymity: exact QI-class recompute; risky rows consistent") {
    val evs = Tables.events(spark, Sf0001)
      .select(col("event_type"), col("ts"), col("value"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val classes = evs.map { case (et, ns, v, uid) =>
      val hour = Math.floorDiv(ns, 3600000000000L) % 24
      val band = (BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong / 5000
      ((et, hour, band), uid)
    }.groupBy(_._1)
    val want = classes.toSeq.groupBy(_._1._1).map { case (et, cls) =>
      val ks = cls.map { case (_, rows) => (rows.map(_._2).distinct.size.toLong, rows.size.toLong) }
      val totalRows = ks.map(_._2).sum
      val risky = ks.filter(_._1 < EventOps.KAnonThreshold)
      et -> (ks.size.toLong, ks.map(_._1).min, risky.size.toLong,
        risky.map(_._2).sum, risky.map(_._2).sum * 1000000L / totalRows)
    }
    val rows = EventOps.kAnonymity(spark, Sf0001).collect()
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (nc, mk, rc, rr, ppm) = want(r.getString(0))
      assert(r.getAs[Long]("n_classes") === nc)
      assert(r.getAs[Long]("min_k") === mk)
      assert(r.getAs[Long]("risky_classes") === rc)
      assert(r.getAs[Long]("risky_rows") === rr)
      assert(r.getAs[Long]("suppress_ppm") === ppm)
    }
  }

  test("l-diversity: exact sensitive-distinct recompute; classes match k-anonymity") {
    val evs = Tables.events(spark, Sf0001)
      .select(col("event_type"), col("ts"), col("value"), col("props")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val kRe = """"k"\s*:\s*(\d+)""".r
    val classes = evs.map { case (et, ns, v, props) =>
      val hour = Math.floorDiv(ns, 3600000000000L) % 24
      val band = (BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong / 5000
      val sens = kRe.findFirstMatchIn(props).map(_.group(1).toLong).get
      ((et, hour, band), sens)
    }.groupBy(_._1)
    val want = classes.toSeq.groupBy(_._1._1).map { case (et, cls) =>
      val ls = cls.map { case (_, rows) => (rows.map(_._2).distinct.size.toLong, rows.size.toLong) }
      val totalRows = ls.map(_._2).sum
      val homog = ls.filter(_._1 == 1L)
      val lowDiv = ls.filter(_._1 < EventOps.LDivThreshold)
      et -> (ls.size.toLong, ls.map(_._1).min, homog.size.toLong,
        homog.map(_._2).sum, lowDiv.map(_._2).sum * 1000000L / totalRows)
    }
    val rows = EventOps.lDiversity(spark, Sf0001).collect()
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (nc, ml, hc, hr, ppm) = want(r.getString(0))
      assert(r.getAs[Long]("n_classes") === nc)
      assert(r.getAs[Long]("min_l") === ml)
      assert(r.getAs[Long]("homogeneous_classes") === hc)
      assert(r.getAs[Long]("homogeneous_rows") === hr)
      assert(r.getAs[Long]("low_div_ppm") === ppm)
    }
    // the two privacy gates partition the SAME classes: per type the
    // class counts must agree, and l can never exceed the class's rows
    val kRows = EventOps.kAnonymity(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_classes")).toMap
    rows.foreach(r => assert(r.getAs[Long]("n_classes") === kRows(r.getString(0))))
  }

  test("referral depth: pointer doubling == direct parent-chase recompute") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val nodes = Tables.customer(spark, Sf0001).select("c_custkey").collect()
      .map(_.getLong(0)).sorted
    val parent = nodes.filter(_ > 0).map(n => n -> h60(n.toString) % n).toMap
    val depths = scala.collection.mutable.Map[Long, Long](0L -> 0L)
    def depthOf(n: Long): Long = depths.getOrElseUpdate(n, depthOf(parent(n)) + 1)
    nodes.foreach(depthOf)
    val want = depths.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = GraphOps.referralDepth(spark, Sf0001).collect()
    assert(rows.length === want.size)
    rows.foreach(r => assert(r.getAs[Long]("n_nodes") === want(r.getAs[Long]("depth"))))
    // a random recursive tree is SHALLOW: max depth ~ 2 ln n, far
    // under the 2^8 the doubling rounds cover (the convergence margin)
    val maxDepth = depths.values.max
    assert(maxDepth < 256L)
    assert(maxDepth >= 3L)
  }

  test("span rewrite: exact rebuild recompute; duplicated blocks vanish corpus-wide") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.map { case (id, t) => id -> t.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq }.toMap
    val blocks = toks.toSeq.flatMap { case (id, ts) =>
      (0 until ts.length / 8).map(k => (id, k, ts.slice(k * 8, k * 8 + 8).mkString(" ")))
    }
    val nd = blocks.map(b => (h60(b._3), b._1)).distinct.groupBy(_._1).view.mapValues(_.size).toMap
    val want = docs.map { case (id, _) =>
      val ts = toks(id)
      val bs = blocks.filter(_._1 == id).sortBy(_._2)
      val keptText = bs.filter(b => nd(h60(b._3)) == 1).map(_._3).mkString(" ")
      val remainder = ts.drop(ts.length / 8 * 8).mkString(" ")
      val clean = (keptText + " " + remainder).trim
      val dropped = bs.count(b => nd(h60(b._3)) >= 2).toLong
      id -> (ts.length.toLong, bs.length.toLong, dropped, clean,
        ts.length.toLong - dropped * 8)
    }.toMap
    val rows = DedupOps.spanRewrite(spark, Sf0001).collect()
    assert(rows.length === want.size)
    var anyDropped = false
    rows.foreach { r =>
      val (nt, nb, dropped, clean, cleanToks) = want(r.getLong(0))
      assert(r.getAs[Long]("n_tokens") === nt)
      assert(r.getAs[Long]("n_blocks") === nb)
      assert(r.getAs[Long]("n_dropped_blocks") === dropped)
      assert(r.getAs[String]("clean_text") === clean)
      assert(r.getAs[Long]("clean_tokens") === cleanToks)
      if (dropped > 0) anyDropped = true
    }
    // non-vacuous on this corpus: at least one block was dropped, and
    // token accounting is conserved corpus-wide
    assert(anyDropped)
    val totalClean = rows.map(_.getAs[Long]("clean_tokens")).sum
    val totalOrig = rows.map(_.getAs[Long]("n_tokens")).sum
    val totalDropped = rows.map(_.getAs[Long]("n_dropped_blocks")).sum
    assert(totalClean === totalOrig - totalDropped * DedupOps.SpanTokens)
    assert(totalDropped > 0L)
  }

  test("kll rollup merge: every scope (incl. the merged ALL row) clears its rank certificate") {
    val rows = EventOps.kllSources(spark, Sf0001).collect()
    val types = Tables.events(spark, Sf0001).select("event_type").distinct().collect()
      .map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).toSet === types + "ALL")
    val counts = Tables.events(spark, Sf0001).groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val scope = r.getString(0)
      val n = if (scope == "ALL") counts.values.sum else counts(scope)
      assert(r.getAs[Long]("n_rows") === n)
      // the merge-path claim: a mishandled sketch buffer through the
      // rollup Expand would blow the +-5% rank envelope
      assert(r.getAs[Boolean]("p50_ok"))
      assert(r.getAs[Boolean]("p90_ok"))
    }
  }

  test("cdc chunks: exact boundary recompute; boundaries are content-anchored") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def chunksOf(toks: Seq[String]): Seq[Seq[String]] = {
      val out = Seq.newBuilder[Seq[String]]
      var cur = Seq.newBuilder[String]
      var nonEmpty = false
      toks.foreach { t =>
        cur += t; nonEmpty = true
        if (h60(t) % DedupOps.CdcBoundaryMod == 0L) {
          out += cur.result(); cur = Seq.newBuilder[String]; nonEmpty = false
        }
      }
      if (nonEmpty) out += cur.result()
      out.result()
    }
    val docs = Tables.documents(spark, Sf0001).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val all = docs.flatMap { case (src, t) =>
      chunksOf(t.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq)
        .map(c => (src, c.mkString(" ")))
    }
    val freq = all.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val want = all.groupBy(_._1).map { case (src, cs) =>
      val lens = cs.map(_._2.split(" ").length.toLong)
      val total = lens.sum
      src -> (cs.length.toLong, total, lens.max,
        total * 1000000L / cs.length, cs.count(c => freq(c._2) >= 2).toLong * 1000000L / cs.length)
    }
    val rows = DedupOps.cdcChunks(spark, Sf0001).collect()
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (nc, tt, mx, mean, dup) = want(r.getString(0))
      assert(r.getAs[Long]("n_chunks") === nc)
      assert(r.getAs[Long]("total_tokens") === tt)
      assert(r.getAs[Long]("max_chunk_tokens") === mx)
      assert(r.getAs[Long]("mean_len_ppm") === mean)
      assert(r.getAs[Long]("dup_ppm") === dup)
    }
    // the CDC property: prepending tokens to a stream leaves every
    // chunk after the first boundary identical (fixed-width chunking
    // would shift them all)
    val base = "the fast key order sort table scan merge part window small hash".split(" ").toSeq
    val shifted = Seq("zzz", "qqq") ++ base
    val a = chunksOf(base).map(_.mkString(" "))
    val b = chunksOf(shifted).map(_.mkString(" "))
    if (a.length > 1) assert(a.tail === b.takeRight(a.tail.length))
  }

  test("mann-whitney: exact midrank recompute; U_a + U_b = n_a*n_b identity") {
    val evs = Tables.events(spark, Sf0001)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0),
        (BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong))
    val byType = evs.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val types = byType.keys.toSeq.sorted
    def u2Of(a: Seq[Long], b: Seq[Long]): Long = {
      val all = (a.map((_, 0)) ++ b.map((_, 1))).sortBy(_._1)
      // midranks over the combined sample, doubled to stay integral
      val r2 = all.groupBy(_._1).view.mapValues(_.size).toMap
      var c = 0L
      var r2a = 0L
      all.map(_._1).distinct.sorted.foreach { v =>
        val m = r2(v).toLong
        val aCount = a.count(_ == v).toLong
        r2a += aCount * (2 * c + m + 1)
        c += m
      }
      r2a - a.length.toLong * (a.length + 1)
    }
    val rows = EventOps.mannWhitneyDrift(spark, Sf0001).collect()
    assert(rows.length === types.combinations(2).size)
    rows.foreach { r =>
      val (ta, tb) = (r.getString(0), r.getString(1))
      val (a, b) = (byType(ta), byType(tb))
      val u2a = u2Of(a.toSeq, b.toSeq)
      assert(r.getAs[Long]("n_a") === a.length.toLong)
      assert(r.getAs[Long]("n_b") === b.length.toLong)
      assert(r.getAs[Long]("u2_a") === u2a)
      // the midrank identity: 2U_a + 2U_b = 2 n_a n_b, so the mirrored
      // statistic is determined — a wrong tie treatment breaks this
      assert(u2Of(b.toSeq, a.toSeq) === 2L * a.length * b.length - u2a)
      val auc = r.getAs[Double]("auc_a")
      assert(auc >= 0.0 && auc <= 1.0)
    }
  }

  test("keyness terms: exact 2x2 odds recompute; margins sum to grand total") {
    val docs = Tables.documents(spark, Sf0001).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cnt = docs.flatMap { case (l, t) =>
      t.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).map(w => (l, w))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val tokTotal = cnt.toSeq.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    val langTotal = cnt.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val grand = cnt.values.sum
    val want = cnt.toSeq.map { case ((l, t), a) =>
      val b = tokTotal(t) - a
      val c = langTotal(l) - a
      val d = grand - tokTotal(t) - langTotal(l) + a
      val or = (BigInt(a + 1) * (d + 1) * 1000000 / (BigInt(b + 1) * (c + 1))).toLong
      (l, t, a, b, c, d, or)
    }.groupBy(_._1).map { case (l, xs) =>
      l -> xs.sortBy(x => (-x._7, x._2)).take(TextOps.KeynessTopK)
    }
    val rows = TextOps.keynessTerms(spark, Sf0001).collect()
    assert(rows.length === want.values.map(_.size).sum)
    rows.foreach { r =>
      val (l, t, a, b, c, d, or) = want(r.getString(0))(r.getAs[Long]("rnk").toInt - 1)
      assert(r.getString(2) === t)
      assert(r.getAs[Long]("a") === a)
      assert(r.getAs[Long]("b") === b)
      assert(r.getAs[Long]("c") === c)
      assert(r.getAs[Long]("d") === d)
      assert(r.getAs[Long]("or_ppm") === or)
      // the 2x2 table partitions the corpus
      assert(a + b + c + d === grand)
    }
  }

  test("bootstrap means: exact hash-Poisson recompute; weights average ~1") {
    def coin(id: Long, r: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$r".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 10000
    }
    def w(c: Long): Long =
      if (c < 3679) 0 else if (c < 7358) 1 else if (c < 9197) 2
      else if (c < 9810) 3 else if (c < 9963) 4 else if (c < 9994) 5 else 6
    val evs = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        (BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong))
    val want = (for {
      r <- 0L until EventOps.BootstrapReplicas.toLong
      (id, t, vc) <- evs
    } yield {
      val wt = w(coin(id, r))
      ((t, r), (wt, wt * vc))
    }).groupBy(_._1).map { case (k, xs) =>
      k -> (xs.map(_._2._1).sum, xs.map(_._2._2).sum)
    }
    val rows = EventOps.bootstrapMeans(spark, Sf0001).collect()
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (wc, ws) = want((r.getString(0), r.getAs[Long]("replica")))
      assert(r.getAs[Long]("w_count") === wc)
      assert(r.getAs[Long]("w_sum_c") === ws)
      assert(r.getAs[Double]("mean_c") === ws.toDouble / wc.toDouble)
    }
    // Poisson(1): total weight per replica concentrates near the
    // event count (mean 1 per event) — a wrong ladder skews this
    val perReplica = rows.groupBy(_.getAs[Long]("replica"))
      .view.mapValues(_.map(_.getAs[Long]("w_count")).sum).toMap
    val n = evs.length.toLong
    perReplica.values.foreach(tw => assert(tw > n / 2 && tw < n * 2))
  }

  test("mann-kendall: exact S and tie-corrected variance recompute") {
    val evs = Tables.events(spark, Sf0001)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map { r =>
        (r.getString(0), Math.floorDiv(r.getLong(1), 86400000000000L),
          (BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong)
      }
    val daily = evs.groupBy(e => (e._1, e._2)).map { case ((t, d), rs) =>
      (t, d, rs.map(_._3).sum, rs.length.toLong)
    }.toSeq
    val want = daily.groupBy(_._1).map { case (t, ds) =>
      val sorted = ds.sortBy(_._2)
      val means = sorted.map(x => (BigInt(x._3), BigInt(x._4)))
      var s = 0L
      for (i <- means.indices; j <- i + 1 until means.length) {
        val c = (means(j)._1 * means(i)._2).compare(means(i)._1 * means(j)._2)
        s += c.sign
      }
      val n = means.length.toLong
      val tieSum = means.map { m =>
        val t2 = means.count(x => x._1 * m._2 == m._1 * x._2).toLong
        (t2 - 1) * (t2 * 2 + 5)
      }.sum
      t -> (n, s, n * (n - 1) * (n * 2 + 5) - tieSum)
    }
    val rows = EventOps.mannKendallTrend(spark, Sf0001).collect()
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (n, s, v18) = want(r.getString(0))
      assert(r.getAs[Long]("n_days") === n)
      assert(r.getAs[Long]("s_stat") === s)
      assert(r.getAs[Long]("var18") === v18)
      assert(r.getAs[Long]("trend_sign") === s.sign.toLong)
      // variance is nonnegative by construction
      assert(v18 >= 0L)
    }
  }

  test("cramers v: exact chi-squared recompute over the full margin grid") {
    val evs = Tables.events(spark, Sf0001).select(col("ts"), col("event_type")).collect()
      .map { r =>
        val ns = r.getLong(0)
        (r.getString(1), (Math.floorDiv(ns, 86400000000000L) + 4) % 7,
          Math.floorDiv(ns, 3600000000000L) % 24)
      }
    def chi2Of(xs: Seq[String], ys: Seq[String]): (Long, Long, Long, Double) = {
      val o = xs.zip(ys).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val rT = o.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
      val cT = o.toSeq.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
      val n = xs.length.toLong
      // iterate Seqs, not key Sets: a for over Sets yields a Set and
      // equal per-cell contributions would collapse before the sum
      val chi2 = (for { x <- rT.keys.toSeq; y <- cT.keys.toSeq } yield {
        val ob = BigInt(o.getOrElse((x, y), 0L))
        val d = ob * n - BigInt(rT(x)) * cT(y)
        (d * d * 1000000 / (BigInt(rT(x)) * cT(y) * n)).toLong
      }).sum
      val dof = (rT.size - 1).toLong * (cT.size - 1)
      val v = math.sqrt(chi2.toDouble / 1000000.0 /
        (n * math.min(rT.size - 1, cT.size - 1)).toDouble)
      (n, dof, chi2, v)
    }
    val want = Map(
      "type_x_weekday" -> chi2Of(evs.toSeq.map(_._1), evs.toSeq.map(_._2.toString)),
      "type_x_hour" -> chi2Of(evs.toSeq.map(_._1), evs.toSeq.map(_._3.toString)),
      "weekday_x_hour" -> chi2Of(evs.toSeq.map(_._2.toString), evs.toSeq.map(_._3.toString))
    )
    val rows = EventOps.cramersV(spark, Sf0001).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val (n, dof, chi2, v) = want(r.getString(0))
      assert(r.getAs[Long]("n_rows") === n)
      assert(r.getAs[Long]("dof") === dof)
      assert(r.getAs[Long]("chi2_ppm") === chi2)
      assert(r.getAs[Double]("cramers_v") === v)
      // V lives in [0, 1] by construction
      assert(v >= 0.0 && v <= 1.0)
    }
  }

  /** Sequential ascending-index cosine — the VectorFunctions fold
    * order, recomputed in plain Scala for the embedding-QA specs.
    */
  private def cosSeq(a: Seq[Float], b: Seq[Float]): Double = {
    def dot(x: Seq[Float], y: Seq[Float]) =
      x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  test("hard negatives: top-3 different-label, exact scores, no same-label row") {
    val vecs = Tables.embeddings(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(2).toLong, r.getSeq[Float](1))).toSeq
    val byId = vecs.map(v => v._1 -> v).toMap
    val got = SimilarityOps.hardNegatives(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2)) ->
        (r.getLong(1), r.getLong(3), r.getDouble(4), r.getLong(5)))
      .toMap
    assert(got.size === SimilarityOps.NumQueries * SimilarityOps.HardNegK)
    (0L until SimilarityOps.NumQueries.toLong).foreach { q =>
      val (_, qLabel, qe) = byId(q)
      val expected = vecs
        .filter(_._2 != qLabel)
        .map { case (id, lab, ne) => (id, lab, cosSeq(qe, ne)) }
        .sortBy { case (id, _, s) => (-s, id) }
        .take(SimilarityOps.HardNegK)
      expected.zipWithIndex.foreach { case ((id, lab, s), i) =>
        val (gl, gnl, gs, grnk) = got((q, id))
        assert(gl === qLabel); assert(gnl === lab)
        assert(gs === s, s"score mismatch q=$q n=$id")
        assert(grnk === i + 1L)
        assert(gnl !== gl, "a same-label neighbor is not a negative")
      }
    }
  }

  test("hubness skew: histogram == knn-graph k-occurrences, masses sum to N") {
    val occ = SimilarityOps.knnJoin(spark, Sf0001).collect()
      .map(_.getLong(1)) // neighbor_id
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = Tables.embeddings(spark, Sf0001).count()
    val expected = {
      val hist = occ.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val zero = n - occ.size
      if (zero > 0) hist + (0L -> zero) else hist
    }
    val got = SimilarityOps.hubnessSkew(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.values.sum === n, "every vector appears in exactly one k_occ bin")
    assert(got.keys.exists(_ > 0))
  }

  test("tokenizer fertility: driver re-encode with the learned merges, per lang") {
    // independent recompute: take the learned merge table, re-encode
    // every distinct word in plain Scala with the same 3-pass replace
    // contract, aggregate per language with BigInt floor-div ppm
    val merges = TextOps.bpeTrain(spark, Sf0001).collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2)))
    def nSyms(word: String): Long = {
      var seq = " " + word.toCharArray.mkString(" ") + " "
      merges.foreach { case (a, b) =>
        val from = s" $a $b "
        val to = s" $a$b "
        seq = seq.replace(from, to).replace(from, to).replace(from, to)
      }
      seq.trim.split(" ").length.toLong
    }
    val docs = Tables.documents(spark, Sf0001)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val occ = docs
      .flatMap { case (lang, text) =>
        text.split("[^\\p{L}]+").filter(_.nonEmpty).map(w => (lang, w))
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((lang, w), cnt) => (lang, w, cnt) }
    val expected = occ.groupBy(_._1).view.mapValues { ws =>
      val nOcc = ws.map(_._3).sum
      val nTypes = ws.map(_._2).distinct.size.toLong
      val nLetters = ws.map(t => t._3 * t._2.length).sum
      val nBpe = ws.map(t => t._3 * nSyms(t._2)).sum
      (nOcc, nTypes, nLetters, nBpe,
        (BigInt(nBpe) * 1000000 / nOcc).toLong,
        (BigInt(nLetters) * 1000000 / nBpe).toLong)
    }.toMap
    val got = TextOps.tokenizerFertility(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(got === expected)
    assert(got.size >= 2, "fertility must compare at least two languages")
  }

  test("decontam ngram sweep: leak rate monotone non-increasing in n, " +
    "n=8 row consistent with the decontaminate report") {
    val rows = DedupOps.decontamNgramSweep(spark, Sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows.keySet === DedupOps.DecontamSweepNs.map(_.toLong).toSet)
    // longer shared runs are strictly rarer: contaminated docs and
    // leaked n-grams cannot grow with n
    val byN = DedupOps.DecontamSweepNs.map(n => rows(n.toLong))
    byN.sliding(2).foreach { case Seq(a, b) =>
      assert(b._2 <= a._2, s"contaminated docs grew with n: $rows")
      assert(b._3 <= a._3, s"leaked ngrams grew with n: $rows")
    }
    // n=8 must agree with the standalone decontaminate report
    val report = DedupOps.decontaminate(spark, Sf001).collect()
    assert(rows(8L)._2 === report.length.toLong,
      "sweep's contaminated-doc count != decontaminate's row count")
    // 4-grams on a 40-word vocabulary corpus must flag plenty
    assert(rows(4L)._2 > 0 && rows(4L)._4 > 0)
  }

  test("source divergence: exact BigInt chi-square recompute, zero-part algebra") {
    val toks = Tables.documents(spark, Sf0001)
      .select(col("source"), col("text")).collect()
      .flatMap { r =>
        r.getString(1).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
          .map(t => (r.getString(0), t))
      }
    val cst = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ctv = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nsv = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n = toks.length.toLong
    val expected = cst.keys.toSeq.map(_._1).distinct.map { s =>
      val mine = cst.collect { case ((`s`, t), c) => (t, c) }.toSeq
      val obs = mine.map { case (t, c) =>
        val d = BigInt(c) * n - BigInt(nsv(s)) * ctv(t)
        (d * d * 1000000 / (BigInt(nsv(s)) * ctv(t) * n)).toLong
      }.sum
      val sMass = mine.map { case (t, _) => ctv(t) }.sum
      val zero = (BigInt(nsv(s)) * (n - sMass) * 1000000 / n).toLong
      s -> (nsv(s), mine.size.toLong, obs, zero, obs + zero)
    }.toMap
    val got = TextOps.sourceDivergence(spark, Sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got === expected)
    assert(got.size >= 2)
    // a source identical to the corpus would score 0; distinct sources
    // must diverge
    assert(got.values.exists(_._5 > 0))
  }

  test("quality vs dup: bins == quality score x pair-graph membership") {
    val quality = TextOps.qualityScore(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(6)).toMap
    val dup = DedupOps.minhashLsh(spark, Sf0001).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val expected = quality.toSeq
      .map { case (id, q) =>
        val bin = BigDecimal(q).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(10).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong
        (bin, if (dup(id)) 1L else 0L)
      }
      .groupBy(_._1).view.mapValues { xs =>
        val n = xs.size.toLong
        val d = xs.map(_._2).sum
        (n, d, (BigInt(d) * 1000000 / n).toLong)
      }.toMap
    val got = TextOps.qualityVsDup(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expected)
    assert(got.values.map(_._1).sum === quality.size.toLong)
    assert(got.values.map(_._2).sum === dup.size.toLong,
      "every pair-graph member lands in exactly one bin")
  }

  test("semantic leakage: buckets == near-dup pairs x split assignment") {
    def split(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val b = (java.lang.Long.parseLong(h.substring(0, 15), 16) % 100).toInt
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val pairs = SimilarityOps.embeddingNearDup(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = pairs
      .groupBy { case (a, b, _) => (split(a), split(b)) }
      .view.mapValues(ps => (ps.length.toLong, ps.map(_._3).max)).toMap
    val got = SimilarityOps.semanticLeakage(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got === expected)
    assert(got.values.map(_._1).sum === pairs.length.toLong)
    assert(got.nonEmpty)
  }

  test("lexical vs semantic: categories == artifact set algebra") {
    val lex = DedupOps.minhashLsh(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = SimilarityOps.embeddingNearDup(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val union = (lex | sem).size.toLong
    val expected = Seq(
      "both" -> (lex & sem).size.toLong,
      "lexical_only" -> (lex -- sem).size.toLong,
      "semantic_only" -> (sem -- lex).size.toLong
    ).filter(_._2 > 0)
      .map { case (c, n) => c -> (n, (BigInt(n) * 1000000 / union).toLong) }
      .toMap
    val got = SimilarityOps.lexicalVsSemantic(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected)
    assert(got.values.map(_._1).sum === union)
  }

  test("minhash perm sweep: integer error sums == kernel reference; error shrinks") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.MinHashKernel
    def toks(text: String): Array[String] =
      text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
    def arr(ts: Array[String]) =
      new GenericArrayData(ts.map(t => UTF8String.fromString(t): AnyRef))
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1))).toMap
    def shingleSet(id: Long): Set[Long] =
      MinHashKernel.windowHashes(arr(docs(id)), 3).toLongArray.toSet
    def sig(id: Long): Array[Long] = MinHashKernel.sigs(arr(docs(id)), 3).toLongArray
    val pairs = DedupOps.minhashLsh(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = DedupOps.PermSweepPs.map { p =>
      val errs = pairs.map { case (a, b) =>
        val (sa, sb) = (shingleSet(a), shingleSet(b))
        val (inter, uni) = ((sa & sb).size.toLong, (sa | sb).size.toLong)
        val m = sig(a).take(p).zip(sig(b).take(p)).count { case (x, y) => x == y }.toLong
        ((BigInt(m) * uni - BigInt(inter) * p).abs * 1000000 / (BigInt(p) * uni)).toLong
      }
      (p.toLong, pairs.length.toLong, errs.sum,
        if (pairs.isEmpty) 0L else errs.sum / pairs.length)
    }.toSet
    val got = DedupOps.minhashPermSweep(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
    // more permutations can only sharpen the estimator on average
    val byP = got.toSeq.sortBy(_._1).map(_._4)
    assert(byP === byP.sorted.reverse)
  }

  test("salting plan: factors cap every task at the target; salted agg unchanged") {
    val rows = EventOps.saltingPlan(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val counts = Tables.events(spark, Sf0001).groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.view.mapValues(_._1).toMap === counts)
    rows.values.foreach { case (n, f, per) =>
      assert(f === (n + EventOps.SaltTargetRows - 1) / EventOps.SaltTargetRows)
      assert(per <= EventOps.SaltTargetRows, "the whole point: bounded task rows")
      assert(f * per >= n && (f - 1) * per < n.max(1), "factor is minimal-ish")
    }
    // executing the plan with Skew.saltedSumByKey reproduces the plain agg
    val decimals = Tables.events(spark, Sf0001)
      .select(col("event_type"), col("value").cast("decimal(38,10)").as("value"))
    val plain = decimals.groupBy("event_type")
      .agg(sum(col("value")).as("s"), count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    val maxFactor = rows.values.map(_._2).max.toInt
    val salted = Skew.saltedSumByKey(decimals, "event_type", "value", maxFactor)
      .collect()
      .map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    assert(salted === plain)
  }

  test("bloom fpp sweep: no false negatives, monotone fpp, digest reference") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val posting = DedupOps.decontamPosting(spark, Sf0001).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    val tr = posting.collect { case ("train", h) => h }.toSet
    val te = posting.collect { case ("test", h) => h }.toSet
    val nTrue = (tr & te).size.toLong
    def pos(h: Long, i: Int, m: Int): Long =
      java.lang.Long.parseLong(md5hex(s"${h}_$i").substring(0, 15), 16) % m
    val m0 = DedupOps.BloomSweepBits.head
    val bits = te.flatMap(h => (0 until DedupOps.BloomHashes).map(i => pos(h, i, m0)))
    val refPass = tr.count(h =>
      (0 until DedupOps.BloomHashes).forall(i => bits(pos(h, i, m0)))).toLong
    val got = DedupOps.bloomFppSweep(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.map(_._1) === DedupOps.BloomSweepBits.map(_.toLong))
    got.foreach { case (_, (nTrain, t, pass, _)) =>
      assert(nTrain === tr.size.toLong)
      assert(t === nTrue)
      assert(pass >= t, "a bloom has NO false negatives")
    }
    assert(got.head._2._3 === refPass)
    // more bits can only tighten the filter
    val ppms = got.map(_._2._4)
    assert(ppms === ppms.sorted.reverse)
  }

  test("candidate volume: universes reconcile; volumes bound the pair tables") {
    val rows = DedupOps.candidateVolume(spark, Sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet === Set("minhash_band", "simhash_band", "lsh_table"))
    val docs = Tables.documents(spark, Sf0001)
      .select(size(TextOps.tokens(lower(col("text")))).as("n")).collect().map(_.getInt(0))
    // every scheme's n_rows is (bands|tables) x its eligible universe
    assert(rows("minhash_band")._2 === 4L * docs.count(_ >= 3))
    assert(rows("simhash_band")._2 === 4L * docs.count(_ >= 1))
    val nVecs = Tables.embeddings(spark, Sf0001).count()
    assert(rows("lsh_table")._2 === 8L * nVecs)
    rows.values.foreach { case (nb, nr, mx, cp) =>
      assert(nb <= nr && mx <= nr && cp >= 0L)
    }
    // the census UPPER-bounds the verified pair tables it prices
    assert(rows("simhash_band")._4 >= DedupOps.simhashPairs(spark, Sf0001).count())
    assert(rows("minhash_band")._4 >= DedupOps.minhashLsh(spark, Sf0001).count())
  }

  test("shard stability: rendezvous/mod movement == digest reference") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def hrw(id: Long, k: Int): Int = {
      val hs = (0 until k).map(s => md5hex(s"${id}_$s"))
      hs.indexOf(hs.max)
    }
    val ids = Tables.documents(spark, Sf0001).select("doc_id").collect().map(_.getLong(0))
    val modMoved = ids.count(id => id % LayoutOps.ShardFrom != id % LayoutOps.ShardTo).toLong
    val hrwMoved = ids.count(id =>
      hrw(id, LayoutOps.ShardFrom) != hrw(id, LayoutOps.ShardTo)).toLong
    val got = LayoutOps.shardStability(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("mod") ===
      ((ids.length.toLong, modMoved, (BigInt(modMoved) * 1000000 / ids.length).toLong)))
    assert(got("rendezvous") ===
      ((ids.length.toLong, hrwMoved, (BigInt(hrwMoved) * 1000000 / ids.length).toLong)))
    // the whole point: consistent placement moves an order of
    // magnitude less data than modulo re-bucketing
    assert(got("rendezvous")._3 * 5 < got("mod")._3)
  }

  test("filter funnel: stages reconcile with their source operators; monotone") {
    val rows = TextOps.filterFunnel(spark, Sf0001).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet === (1L to 5L).toSet)
    assert(rows(1L)._1 === "raw" && rows(5L)._1 === "decontam")
    // raw row is the corpus; quality row is the quality operator's cut
    val docs = Tables.documents(spark, Sf0001)
      .select(size(TextOps.tokens(lower(col("text")))).cast("long").as("n"))
      .collect().map(_.getLong(0))
    assert(rows(1L)._2 === docs.length.toLong)
    assert(rows(1L)._3 === docs.sum)
    assert(rows(1L)._4 === 1000000L && rows(1L)._5 === 1000000L)
    val nQuality = TextOps.qualityScore(spark, Sf0001)
      .filter(col("quality") >= TextOps.TrainingPrepMinQuality).count()
    assert(rows(2L)._2 === nQuality)
    // cumulative: every stage can only lose mass
    (1L to 4L).foreach { i =>
      assert(rows(i)._2 >= rows(i + 1)._2, s"docs stage $i")
      assert(rows(i)._3 >= rows(i + 1)._3, s"tokens stage $i")
    }
    // the funnel bites: at least one stage removes documents
    assert(rows(5L)._2 < rows(1L)._2)
  }

  test("dup source matrix: cells == pair-source reference; pair mass conserved") {
    val srcs = Tables.documents(spark, Sf0001).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = DedupOps.minhashLsh(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs
      .map { case (a, b) =>
        val (x, y) = (srcs(a), srcs(b)); if (x <= y) (x, y) else (y, x)
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .map { case (k, n) => k -> (n, (BigInt(n) * 1000000 / pairs.length).toLong) }
    val got = DedupOps.dupSourceMatrix(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(3), r.getLong(4), r.getBoolean(2))).toMap
    assert(got.view.mapValues(v => (v._1, v._2)).toMap === expected)
    got.foreach { case ((lo, hi), (_, _, intra)) =>
      assert(intra === (lo == hi)); assert(lo <= hi)
    }
    // every artifact pair lands in exactly one cell
    assert(got.values.map(_._1).sum === pairs.length.toLong)
  }

  test("lsh plane sweep: production row == lshTopK-derived counts; bounds hold") {
    val brute = SimilarityOps.bruteForceTopK(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.lshTopK(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = SimilarityOps.lshPlaneSweep(spark, Sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.keySet ===
      SimilarityOps.PlaneSweepConfigs.map { case (t, p) => s"${t}x$p" }.toSet)
    // the 8x4 row IS the production path: its top-k and hit counts must
    // equal what the ann_topk_lsh artifact + brute truth derive
    val (_, nTopk, nHits, recall) = rows("8x4")
    assert(nTopk === lsh.size.toLong)
    assert(nHits === (lsh & brute).size.toLong)
    assert(recall === (BigInt((lsh & brute).size) * 1000000 / brute.size).toLong)
    val maxTopk = (SimilarityOps.NumQueries * SimilarityOps.TopK).toLong
    rows.values.foreach { case (nc, nt, nh, rp) =>
      assert(nh <= nt && nt <= math.min(nc, maxTopk) && rp <= 1000000L)
    }
  }

  test("heaps law: decile curve == first-occurrence reference; endpoints exact") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq)
    val span = docs.map(_._1).max + 1
    def dec(id: Long): Long = id * TextOps.HeapsDeciles / span + 1
    val nDocs = docs.groupBy { case (id, _) => dec(id) }
      .view.mapValues(_.length.toLong).toMap
    val nToks = docs.groupBy { case (id, _) => dec(id) }
      .view.mapValues(_.map(_._2.length.toLong).sum).toMap
    val firsts = docs.flatMap { case (id, ts) => ts.map(t => (t, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val newTypes = firsts.values.toSeq.groupBy(dec).view.mapValues(_.length.toLong).toMap
    val expected = (1L to TextOps.HeapsDeciles.toLong)
      .filter(d => (1L to d).exists(nDocs.contains))
      .map { d =>
        d -> (
          (1L to d).toSeq.flatMap(nDocs.get).sum,
          (1L to d).toSeq.flatMap(nToks.get).sum,
          (1L to d).toSeq.flatMap(newTypes.get).sum)
      }
      .toMap
    val got = TextOps.heapsLaw(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expected)
    // curve endpoint = whole corpus; cumulative columns monotone
    assert(got(TextOps.HeapsDeciles.toLong)._1 === docs.length.toLong)
    assert(got(TextOps.HeapsDeciles.toLong)._3 === firsts.size.toLong)
    val ordered = got.toSeq.sortBy(_._1).map(_._2)
    assert(ordered.map(_._1) === ordered.map(_._1).sorted)
    assert(ordered.map(_._3) === ordered.map(_._3).sorted)
  }

  test("zipf fit: top-K ranks and integer ratio match brute reference") {
    val toks = Tables.documents(spark, Sf0001).select("text").collect()
      .flatMap(r => r.getString(0).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty))
    val cnt = toks.toSeq.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val sorted = cnt.toSeq.sortBy { case (t, c) => (-c, t) }.take(TextOps.ZipfTopK)
    val f1 = sorted.head._2
    val expected = sorted.zipWithIndex.map { case ((t, c), i) =>
      (i + 1L, t, c, (BigInt(c) * (i + 1) * 1000000 / f1).toLong)
    }.toSet
    val got = TextOps.zipfFit(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
    // the rank-1 term IS the Zipf anchor: ratio exactly 10^6
    assert(got.find(_._1 == 1L).get._4 === 1000000L)
  }

  test("dup growth curve: nested md5 samples == per-fingerprint reference") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(id: Long): Int =
      (java.lang.Long.parseLong(md5hex(id.toString).substring(0, 15), 16) % 100).toInt
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = DedupOps.GrowthPcts.map { p =>
      val sub = docs.filter { case (id, _) => bucket(id) < p }
      val groups = sub.groupBy { case (_, t) => md5hex(t) }
      val dups = groups.values.toSeq.map(g => (g.length - 1).toLong).sum
      (p.toLong, sub.length.toLong, groups.size.toLong, dups,
        if (sub.isEmpty) 0L else (BigInt(dups) * 1000000 / sub.length).toLong)
    }.toSet
    val got = DedupOps.dupGrowthCurve(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === expected)
    // nesting: every count is monotone in the sample size
    val byP = got.toSeq.sortBy(_._1)
    assert(byP.map(_._2) === byP.map(_._2).sorted)
    assert(byP.map(_._3) === byP.map(_._3).sorted)
    assert(byP.map(_._4) === byP.map(_._4).sorted)
  }

  test("span rewrite any-align: catches the shifted copy the 8-grid provably misses") {
    import spark.implicits._
    // Planted separation corpus: an 8-token run shared by two docs at
    // offsets 1 (doc 0) and 0 (doc 1). The grid pass blocks doc 0 as
    // [pa sa..sg][sh qa..qf] and doc 1 as [sa..sh][ra..rh] — no block
    // content repeats, so the grid drops NOTHING. The any-align pass
    // sees the window "sa..sh" in both docs and must remove it from
    // both.
    val run = Seq("sa", "sb", "sc", "sd", "se", "sf", "sg", "sh")
    val doc0 = ("pa" +: run) ++ Seq("qa", "qb", "qc", "qd", "qe", "qf", "qg")
    val doc1 = run ++ Seq("ra", "rb", "rc", "rd", "re", "rf", "rg", "rh")
    val dir = java.nio.file.Files.createTempDirectory("graft-anyalign").toString
    Seq((0L, doc0.mkString(" ")), (1L, doc1.mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val grid = DedupOps.spanRewrite(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(grid(0L).getAs[Long]("n_dropped_blocks") === 0L)
    assert(grid(1L).getAs[Long]("n_dropped_blocks") === 0L)
    val aa = DedupOps.spanRewriteAnyAlign(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(aa(0L).getAs[Long]("n_dup_windows") === 1L)
    assert(aa(1L).getAs[Long]("n_dup_windows") === 1L)
    assert(aa(0L).getAs[String]("clean_text") === "pa qa qb qc qd qe qf qg")
    assert(aa(1L).getAs[String]("clean_text") === "ra rb rc rd re rf rg rh")
    assert(aa(0L).getAs[Long]("clean_tokens") === 8L)
    assert(aa(1L).getAs[Long]("clean_tokens") === 8L)
    // On the real corpus: any-align coverage is a superset of the
    // grid's (a duplicated grid block is itself a duplicated window),
    // and token accounting is internally consistent.
    val gridReal = DedupOps.spanRewrite(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_dropped_blocks")).toMap
    val aaReal = DedupOps.spanRewriteAnyAlign(spark, Sf0001).collect()
    aaReal.foreach { r =>
      val dropped = r.getAs[Long]("n_tokens") - r.getAs[Long]("clean_tokens")
      assert(dropped >= gridReal(r.getLong(0)) * DedupOps.SpanTokens)
      assert(dropped >= 0L)
      if (r.getAs[Long]("n_dup_windows") === 0L) assert(dropped === 0L)
    }
    // non-vacuous: the corpus has at least one any-align duplicate
    assert(aaReal.map(_.getAs[Long]("n_dup_windows")).sum > 0L)
  }

  test("pii luhn audit: planted valid/invalid cards split exactly by an independent checksum") {
    // Third formulation of the checksum (textbook right-to-left walk in
    // Scala) against the two SQL formulations (injection: linear in
    // doc_id's digits; verification: positional over the string) — all
    // three must agree or the audit's arithmetic drifted.
    def luhnOk(s: String): Boolean = {
      var sum = 0
      var i = s.length - 1
      var second = false
      while (i >= 0) {
        var d = s.charAt(i) - '0'
        if (second) { d *= 2; if (d > 9) d -= 9 }
        sum += d
        second = !second
        i -= 1
      }
      sum % 10 == 0
    }
    val ids = Tables.documents(spark, Sf0001).select("doc_id").collect().map(_.getLong(0))
    val toks = TextOps.piiCardDocs(spark, Sf0001).collect().flatMap { r =>
      "4[0-9]{15}".r.findAllIn(r.getString(2)).map(t => (r.getLong(0), t))
    }
    // one card-shaped token per planted slot, none from the raw corpus
    assert(toks.length === ids.count(_ % 7 == 0) + ids.count(_ % 11 == 0))
    val (valid, invalid) = toks.partition(t => luhnOk(t._2))
    assert(valid.map(_._1).toSet === ids.filter(_ % 7 == 0).toSet)
    assert(invalid.map(_._1).toSet === ids.filter(_ % 11 == 0).toSet)
    val rows = TextOps.piiLuhnAudit(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_valid")).sum === valid.length.toLong)
    assert(rows.map(_.getAs[Long]("n_invalid")).sum === invalid.length.toLong)
    assert(valid.nonEmpty && invalid.nonEmpty)
  }

  test("pii: injected identifiers are found, fully redacted, and token-conserved") {
    // NON-VACUITY by construction: the raw corpus is letters-only, so
    // every match comes from the deterministic doc_id-derived
    // injection — exactly one email per id%3==0, phone per %5==0,
    // IP per %4==0 doc. The profile's class totals must equal those
    // arithmetic counts, not merely be positive.
    val ids = Tables.documents(spark, Sf0001).select("doc_id").collect().map(_.getLong(0))
    val prof = TextOps.piiProfile(spark, Sf0001).collect()
    assert(prof.map(_.getAs[Long]("n_emails")).sum === ids.count(_ % 3 == 0).toLong)
    assert(prof.map(_.getAs[Long]("n_phones")).sum === ids.count(_ % 5 == 0).toLong)
    assert(prof.map(_.getAs[Long]("n_ips")).sum === ids.count(_ % 4 == 0).toLong)
    assert(prof.map(_.getAs[Long]("n_emails")).sum > 0L)
    val piiText = TextOps.piiDocs(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val rw = TextOps.piiRewrite(spark, Sf0001).collect()
    assert(rw.length === ids.length)
    rw.foreach { r =>
      val id = r.getLong(0)
      val clean = r.getAs[String]("clean_text")
      // full redaction: no PII shape survives the rewrite
      assert(!clean.contains("@"))
      assert(!clean.matches("(?s).*[0-9]{3}-[0-9]{3}-[0-9]{4}.*"))
      assert(!clean.matches("(?s).*[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}.*"))
      // per-doc counts equal the injection arithmetic
      assert(r.getAs[Long]("n_emails") === (if (id % 3 == 0) 1L else 0L))
      assert(r.getAs[Long]("n_phones") === (if (id % 5 == 0) 1L else 0L))
      assert(r.getAs[Long]("n_ips") === (if (id % 4 == 0) 1L else 0L))
      // token conservation: every injected identifier is one
      // whitespace token and becomes exactly one typed sentinel
      val before = piiText(id).split(" ").count(_.nonEmpty)
      val after = clean.split(" ").count(_.nonEmpty)
      assert(after === before)
      assert(clean.split(" ").count(_ == "<EMAIL>").toLong === r.getAs[Long]("n_emails"))
      assert(clean.split(" ").count(_ == "<PHONE>").toLong === r.getAs[Long]("n_phones"))
      assert(clean.split(" ").count(_ == "<IP>").toLong === r.getAs[Long]("n_ips"))
    }
  }

  test("boilerplate: df-threshold line dedup matches a brute recompute and conserves lines") {
    // Brute-force twin computed in plain Scala over the SAME injected
    // corpus: line doc-frequency on exact strings, boilerplate at the
    // shared threshold, per-doc drop + rebuild.
    val docs = TextOps.boilerplateDocs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    val df = docs.valuesIterator
      .flatMap(_.split("\n").distinct)
      .toSeq.groupBy(identity).map { case (l, g) => l -> g.size }
    val k = 10
    // NON-VACUITY by construction: the nav line rides every even
    // doc_id, so its df is ~n/2 >> threshold; organic lines exist too.
    val nav = "nav home products pricing about contact"
    assert(df(nav) >= k)
    assert(df.valuesIterator.count(_ < k) > 0)

    val prof = TextOps.boilerplateProfile(spark, Sf0001).collect()
    val expLines = docs.valuesIterator.map(_.split("\n").length.toLong).sum
    assert(prof.map(_.getAs[Long]("n_lines")).sum === expLines)
    val expBoiler = docs.valuesIterator
      .flatMap(_.split("\n")).count(l => df(l) >= k).toLong
    assert(prof.map(_.getAs[Long]("n_boiler_lines")).sum === expBoiler)
    assert(expBoiler > 0L)

    val rw = TextOps.boilerplateRewrite(spark, Sf0001).collect()
    assert(rw.length === docs.size)
    rw.foreach { r =>
      val id = r.getLong(0)
      val ls = docs(id).split("\n")
      val kept = ls.filter(l => df(l) < k)
      assert(r.getAs[Long]("n_lines") === ls.length.toLong)
      assert(r.getAs[Long]("n_dropped") === (ls.length - kept.length).toLong)
      val clean = r.getAs[String]("clean_text")
      assert(clean === kept.mkString("\n"))
      // conservation: surviving line count is exactly n_lines - n_dropped
      val cleanLines = if (clean.isEmpty) 0 else clean.split("\n").length
      assert(cleanLines.toLong === r.getAs[Long]("n_lines") - r.getAs[Long]("n_dropped"))
      // the planted template never survives
      assert(!clean.contains(nav))
    }
  }

  test("boilerplate df sweep: threshold rows match brute counts and shrink monotonically") {
    val docs = TextOps.boilerplateDocs(spark, Sf0001).collect().map(_.getString(2))
    val df = docs.flatMap(_.split("\n").distinct)
      .groupBy(identity).map { case (l, g) => l -> g.size }
    val occ = docs.flatMap(_.split("\n"))
      .groupBy(identity).map { case (l, g) => l -> g.size.toLong }
    val rows = TextOps.boilerplateDfSweep(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("df_min") ->
        (r.getAs[Long]("n_boiler_lines"), r.getAs[Long]("n_boiler_occurrences")))
      .toMap
    assert(rows.keySet === Set(5L, 10L, 20L))
    Seq(5, 10, 20).foreach { k =>
      val lines = df.filter(_._2 >= k).keys.toSeq
      assert(rows(k.toLong)._1 === lines.size.toLong)
      assert(rows(k.toLong)._2 === lines.map(occ).sum)
    }
    // tightening the threshold can only shrink the removed mass
    assert(rows(5L)._2 >= rows(10L)._2 && rows(10L)._2 >= rows(20L)._2)
    assert(rows(20L)._2 > 0L, "the nav template rides n/2 docs, df >= 20 at sf0.001")
  }

  test("secret scan: diversity classifier separates planted keys from repeated-char decoys") {
    val docs = TextOps.secretDocs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val shape = "[a-z0-9]{24}".r
    // brute twin: same regex, same distinct-char threshold
    val brute = docs.map { case (_, src, text) =>
      val cands = shape.findAllIn(text).toSeq
      (src, cands.size.toLong, cands.count(_.distinct.length >= 13).toLong)
    }
    // NON-VACUITY by construction: every %6==0 doc carries a token
    // with 24 distinct chars (distinct residues mod 36), every %9==0
    // doc a 1-distinct-char decoy
    docs.foreach { case (id, _, text) =>
      val cands = shape.findAllIn(text).toSeq
      if (id % 6 == 0) assert(cands.exists(_.distinct.length == 24))
      if (id % 9 == 0) assert(cands.exists(_.distinct.length == 1))
    }
    assert(brute.map(_._2).sum > brute.map(_._3).sum) // decoys exist
    assert(brute.map(_._3).sum > 0L)                  // secrets exist
    val rows = TextOps.secretScan(spark, Sf0001).collect()
    val bySrc = brute.groupBy(_._1)
    rows.foreach { r =>
      val g = bySrc(r.getString(0))
      assert(r.getAs[Long]("n_candidates") === g.map(_._2).sum)
      assert(r.getAs[Long]("n_secrets") === g.map(_._3).sum)
    }
  }

  test("url audit: host census and blocklist match a brute regex recompute") {
    val docs = TextOps.urlDocs(spark, Sf0001).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val urlRe = "https?://[a-z0-9.-]+/[a-z0-9]*".r
    val hostRe = "https?://([a-z0-9.-]+)/".r
    def host(u: String): String = hostRe.findFirstMatchIn(u).get.group(1)
    val census = docs
      .flatMap { case (src, text) => urlRe.findAllIn(text).map(u => (src, host(u))) }
      .groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    assert(census.keys.map(_._2).toSet === TextOps.UrlHosts.toSet) // all 4 hosts appear
    val prof = TextOps.urlProfile(spark, Sf0001).collect()
    assert(prof.length === census.size)
    prof.foreach { r =>
      assert(r.getAs[Long]("n_urls") === census((r.getString(0), r.getString(1))))
    }
    val blocked = TextOps.UrlBlocklist.toSet
    val bruteBlocked = docs.groupBy(_._1).map { case (src, g) =>
      src -> g.count { case (_, t) => urlRe.findAllIn(t).exists(u => blocked(host(u))) }.toLong
    }
    val audit = TextOps.urlBlocklistAudit(spark, Sf0001).collect()
    audit.foreach { r =>
      assert(r.getAs[Long]("n_blocked_docs") === bruteBlocked(r.getString(0)))
    }
    // non-vacuity corpus-wide (a small source can have all or none of
    // its docs on blocked host-index residues): the block removes
    // some docs but not the whole corpus
    assert(audit.map(_.getAs[Long]("n_blocked_docs")).sum > 0L)
    assert(audit.map(_.getAs[Long]("n_blocked_docs")).sum <
      audit.map(_.getAs[Long]("n_docs")).sum)
  }

  test("secret rewrite: sentinels replace diverse keys, decoys survive in place") {
    val docs = TextOps.secretDocs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    val shape = "^[a-z0-9]{24}$".r
    def isSecret(t: String) =
      shape.findFirstIn(t).isDefined && t.distinct.length >= 13
    val rw = TextOps.secretRewrite(spark, Sf0001).collect()
    assert(rw.length === docs.size)
    rw.foreach { r =>
      val id = r.getLong(0)
      val ts = docs(id).split(" ", -1)
      val expClean = ts.map(t => if (isSecret(t)) "<SECRET>" else t).mkString(" ")
      assert(r.getAs[String]("clean_text") === expClean)
      assert(r.getAs[Long]("n_redacted") === ts.count(isSecret).toLong)
      // every %6 doc lost its key, every %9 doc KEPT its decoy
      if (id % 6 == 0) assert(r.getAs[Long]("n_redacted") >= 1L)
      if (id % 9 == 0)
        assert(r.getAs[String]("clean_text").split(" ").exists(t =>
          t.length == 24 && t.distinct.length == 1))
      // no high-diversity key shape survives
      assert(!r.getAs[String]("clean_text").split(" ").exists(isSecret))
    }
  }

  test("perceptron epoch: two synchronous update rounds match a JVM recompute") {
    def bucket(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16) % 64L
    }
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty)
        val y = if (toks.contains("spark")) 1L else -1L
        val x = toks.groupBy(bucket).map { case (b, g) => b -> g.length.toLong }
        (y, x)
      }
    // both label classes must exist or the epoch is degenerate
    assert(docs.exists(_._1 == 1L) && docs.exists(_._1 == -1L))
    val w1 = docs.foldLeft(Map.empty[Long, Long]) { case (w, (y, x)) =>
      x.foldLeft(w) { case (w2, (b, c)) => w2 + (b -> (w2.getOrElse(b, 0L) + y * c)) }
    }
    val mis = docs.filter { case (y, x) =>
      y * x.map { case (b, c) => c * w1.getOrElse(b, 0L) }.sum <= 0L
    }
    assert(mis.nonEmpty, "round 2 should have misclassified docs")
    val w2 = mis.foldLeft(w1) { case (w, (y, x)) =>
      x.foldLeft(w) { case (wacc, (b, c)) => wacc + (b -> (wacc.getOrElse(b, 0L) + y * c)) }
    }
    val rows = TextOps.perceptronEpoch(spark, Sf0001).collect()
    assert(rows.length === w1.size)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Long]("w1") === w1(b))
      assert(r.getAs[Long]("w2") === w2(b))
    }
    assert(rows.exists(r => r.getAs[Long]("w1") != r.getAs[Long]("w2")))
  }

  test("clean pipeline: boiler drop -> pii redact -> secret redact composes exactly") {
    val dirty = TextOps.dirtyDocs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    val df = dirty.valuesIterator
      .flatMap(_.split("\n").distinct)
      .toSeq.groupBy(identity).map { case (l, g) => l -> g.size }
    val emailRe = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val shape = "^[a-z0-9]{24}$".r
    def isSecret(t: String) = shape.findFirstIn(t).isDefined && t.distinct.length >= 13
    val rows = TextOps.cleanPipeline(spark, Sf0001).collect()
    assert(rows.length === dirty.size)
    var sawBoiler, sawPii, sawSecret, sawAllThree = false
    rows.foreach { r =>
      val id = r.getLong(0)
      val ls = dirty(id).split("\n", -1)
      val kept = ls.filter(l => df(l) < 10)
      assert(r.getAs[Long]("n_boiler_dropped") === (ls.length - kept.length).toLong)
      val afterDrop = kept.mkString("\n")
      val nPii = (emailRe.r.findAllIn(afterDrop).size +
        phoneRe.r.findAllIn(afterDrop).size + ipRe.r.findAllIn(afterDrop).size).toLong
      assert(r.getAs[Long]("n_pii_redacted") === nPii)
      val afterPii = afterDrop
        .replaceAll(emailRe, "<EMAIL>")
        .replaceAll(phoneRe, "<PHONE>")
        .replaceAll(ipRe, "<IP>")
      val ts = afterPii.split(" ", -1)
      assert(r.getAs[Long]("n_secrets_redacted") === ts.count(isSecret).toLong)
      val expClean = ts.map(t => if (isSecret(t)) "<SECRET>" else t).mkString(" ")
      assert(r.getAs[String]("clean_text") === expClean)
      if (r.getAs[Long]("n_boiler_dropped") > 0) sawBoiler = true
      if (r.getAs[Long]("n_pii_redacted") > 0) sawPii = true
      if (r.getAs[Long]("n_secrets_redacted") > 0) sawSecret = true
      if (r.getAs[Long]("n_boiler_dropped") > 0 && r.getAs[Long]("n_pii_redacted") > 0 &&
        r.getAs[Long]("n_secrets_redacted") > 0) sawAllThree = true
    }
    // every stage fires, and at least one doc exercises the full chain
    assert(sawBoiler && sawPii && sawSecret && sawAllThree)
  }

  test("t-closeness: per-type rollup matches a JVM ordered-EMD recompute") {
    val rows = EventOps.qiClasses(spark, Sf0001)
      .filter(col("sensitive").isNotNull)
      .select("event_type", "hour_of_day", "value_band", "sensitive").collect()
      .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
    val globalVals = rows.map(_._2).distinct.sorted
    val g = rows.groupBy(_._2).map { case (v, xs) => v -> xs.length.toLong }
    val bigG = rows.length.toLong
    val m = globalVals.length
    val byClass = rows.groupBy(_._1)
    val tPpm = byClass.map { case (cls, xs) =>
      val c = xs.groupBy(_._2).map { case (v, ys) => v -> ys.length.toLong }
      val nC = xs.length.toLong
      var cumC, cumG, num = 0L
      globalVals.foreach { v =>
        cumC += c.getOrElse(v, 0L); cumG += g(v)
        num += math.abs(cumC * bigG - cumG * nC)
      }
      cls -> (nC, (BigInt(num) * 1000000 / (BigInt(nC) * bigG * (m - 1))).toLong)
    }
    val exp = tPpm.groupBy(_._1._1).map { case (et, cs) =>
      val ts = cs.values.toSeq
      val risky = ts.filter(_._2 > 250000L)
      et -> (cs.size.toLong, ts.map(_._2).max, risky.size.toLong,
        (BigInt(risky.map(_._1).sum) * 1000000 / ts.map(_._1).sum).toLong)
    }
    val out = EventOps.tCloseness(spark, Sf0001).collect()
    assert(out.length === exp.size)
    out.foreach { r =>
      val (nc, mx, rc, rp) = exp(r.getString(0))
      assert(r.getAs[Long]("n_classes") === nc)
      assert(r.getAs[Long]("max_t_ppm") === mx)
      assert(r.getAs[Long]("risky_classes") === rc)
      assert(r.getAs[Long]("risky_rows_ppm") === rp)
    }
    // the measure discriminates: some classes are t-risky, not all
    assert(out.map(_.getAs[Long]("risky_classes")).sum > 0L)
    assert(out.exists(r => r.getAs[Long]("risky_classes") < r.getAs[Long]("n_classes")))
  }

  test("ivf nprobe sweep: widening the probe is monotone in candidates and recall") {
    val rows = SimilarityOps.ivfNprobeSweep(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("nprobe") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_hits"),
          r.getAs[Long]("n_truth"), r.getAs[Long]("recall_ppm"))).toMap
    assert(rows.keySet === Set(1L, 2L, 3L))
    // widening the probe can only add candidates and hits
    assert(rows(1L)._1 <= rows(2L)._1 && rows(2L)._1 <= rows(3L)._1)
    assert(rows(1L)._2 <= rows(2L)._2 && rows(2L)._2 <= rows(3L)._2)
    rows.values.foreach { case (_, hits, truth, ppm) =>
      assert(truth === 25L) // NumQueries * TopK
      assert(ppm === hits * 1000000L / truth)
    }
    // the probe actually prices something: np=3 finds more than np=1
    // pays for, or at minimum never less
    assert(rows(3L)._2 >= rows(1L)._2)
    assert(rows(3L)._1 > rows(1L)._1)
  }

  test("token waterfill: allocation is budget-feasible and the cap is maximal") {
    val rows = TextOps.tokenWaterfill(spark, Sf0001).collect()
    val masses = rows.map(_.getAs[Long]("mass"))
    val allocs = rows.map(_.getAs[Long]("alloc"))
    val cap = rows.head.getAs[Long]("cap")
    assert(rows.forall(_.getAs[Long]("cap") == cap))
    val budget = masses.sum / 2
    // alloc = min(mass, cap) row-wise
    rows.foreach { r =>
      assert(r.getAs[Long]("alloc") === math.min(r.getAs[Long]("mass"), cap))
    }
    // feasible under the budget, and cap+1 would overflow it: the
    // maximality certificate, independent of the derivation
    assert(allocs.sum <= budget)
    assert(masses.map(m => math.min(m, cap + 1)).sum > budget)
    // at least one source is capped (budget < total) and, unless the
    // cap clears every source, at least one is fully kept
    assert(rows.exists(r => r.getAs[Long]("alloc") < r.getAs[Long]("mass")))
  }

  test("clean manifest: stage bitmask and before/after fingerprints match brute") {
    def fp(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val dirty = TextOps.dirtyDocs(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val pipe = TextOps.cleanPipeline(spark, Sf0001).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_boiler_dropped"), r.getAs[Long]("n_pii_redacted"),
          r.getAs[Long]("n_secrets_redacted"), r.getAs[String]("clean_text"))).toMap
    // bit 8 (round-11 fourth stage): independent recompute of the
    // canonicalization map applied to the cleaned text, as in the
    // dedicated canonicalization-stage spec
    val rmap = TextOps.typoRewrite(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    val rows = TextOps.cleanManifest(spark, Sf0001).collect()
    assert(rows.length === dirty.size)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (b, p, s, clean) = pipe(id)
      val nRw = clean.split(" ", -1).count(w => rmap.contains(w.toLowerCase))
      val mask = (if (b > 0) 1L else 0L) + (if (p > 0) 2L else 0L) +
        (if (s > 0) 4L else 0L) + (if (nRw > 0) 8L else 0L)
      assert(r.getAs[Long]("touched_mask") === mask)
      assert(r.getAs[Long]("dirty_fp") === fp(dirty(id)))
      assert(r.getAs[Long]("clean_fp") === fp(clean))
    }
    // every redaction mask value including the full chain appears
    // (modulo the orthogonal canonicalization bit)
    assert(rows.map(_.getAs[Long]("touched_mask") & 7L).toSet.contains(7L))
  }

  test("planner sheets: broadcast sizing and histogram-product join census match brute") {
    // broadcast plan: exact string mass + fixed schema bytes
    val plan = RelationalOps.broadcastThresholdPlan(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(plan.keySet === Set("region", "nation", "customer", "supplier", "part"))
    val cust = Tables.table(spark, Sf0001, "customer").collect()
    val expCustBytes = cust.map(r =>
      20L + r.getAs[String]("c_name").length + r.getAs[String]("c_mktsegment").length).sum
    assert(plan("customer")._1 === cust.length.toLong)
    assert(plan("customer")._2 === expCustBytes)
    // every test dim fits comfortably under 10 MB at sf0.001
    assert(plan.values.forall(_._3 == 1L))

    // join census: |L join R| from key histograms, checked against a
    // real join count for the fattest edge
    val census = RelationalOps.joinCardinalityCensus(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(census.keySet.size === 6)
    val orders = Tables.table(spark, Sf0001, "orders")
    val lineitem = Tables.table(spark, Sf0001, "lineitem")
    val realJoin = orders.join(lineitem, col("o_orderkey") === col("l_orderkey")).count()
    assert(census("orders_lineitem")._3 === realJoin)
    assert(census("orders_lineitem")._1 === orders.count())
    assert(census("orders_lineitem")._2 === lineitem.count())
    // FK integrity: every lineitem matches an order, so n_out == n_right
    assert(census("orders_lineitem")._3 === census("orders_lineitem")._2)
  }

  test("redact dedup gain: cleaning can only merge fingerprints, never split") {
    val dirty = TextOps.dirtyDocs(spark, Sf0001).collect().map(_.getString(2))
    val cleaned = TextOps.cleanPipeline(spark, Sf0001).collect()
      .map(_.getAs[String]("clean_text"))
    val exp = Map(
      "dirty" -> (dirty.length.toLong, dirty.distinct.length.toLong),
      "cleaned" -> (cleaned.length.toLong, cleaned.distinct.length.toLong)
    )
    val rows = TextOps.redactDedupGain(spark, Sf0001).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      val (nd, dist) = exp(r.getString(0))
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("n_distinct") === dist)
      assert(r.getAs[Long]("n_dup_docs") === nd - dist)
    }
    // the image of a pure function has at most as many distinct values
    assert(exp("cleaned")._2 <= exp("dirty")._2)
  }

  test("clean token budget: per-source before/after token mass matches brute") {
    val dirty = TextOps.dirtyDocs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val clean = TextOps.cleanPipeline(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("clean_text")).toMap
    def nt(s: String): Long = s.split("[^\\p{L}]+").count(_.nonEmpty).toLong
    val bySrc = dirty.groupBy(_._2).map { case (src, g) =>
      src -> (g.size.toLong, g.map(d => nt(d._3)).sum, g.map(d => nt(clean(d._1))).sum)
    }
    val rows = TextOps.cleanTokenBudget(spark, Sf0001).collect()
    assert(rows.length === bySrc.size)
    rows.foreach { r =>
      val (n, dt, ct) = bySrc(r.getString(0))
      assert(r.getAs[Long]("n_docs") === n)
      assert(r.getAs[Long]("dirty_tokens") === dt)
      assert(r.getAs[Long]("clean_tokens") === ct)
    }
    // cleaning strictly removes token mass on this corpus (boiler
    // lines dropped; multi-token identifiers collapse to sentinels)
    assert(rows.map(_.getAs[Long]("dirty_tokens")).sum >
      rows.map(_.getAs[Long]("clean_tokens")).sum)
  }

  test("hash collision audit: 60-bit space is collision-free at all three granularities") {
    def h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val docs = Tables.documents(spark, Sf0001).select("text").collect().map(_.getString(0))
    val toks = docs.flatMap(_.split("[^\\p{L}]+").filter(_.nonEmpty))
    val lines = TextOps.boilerplateDocs(spark, Sf0001).collect()
      .flatMap(_.getString(2).split("\n", -1))
    val shingles = docs.flatMap { t =>
      val ts = t.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
      ts.sliding(8).filter(_.length == 8).map(_.mkString(" "))
    }
    val exp = Map(
      "token" -> toks.distinct.length.toLong,
      "line" -> lines.distinct.length.toLong,
      "shingle" -> shingles.distinct.length.toLong
    )
    val expH = Map(
      "token" -> toks.map(h).distinct.length.toLong,
      "line" -> lines.map(h).distinct.length.toLong,
      "shingle" -> shingles.map(h).distinct.length.toLong
    )
    val rows = TextOps.hashCollisionAudit(spark, Sf0001).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val lvl = r.getString(0)
      assert(r.getAs[Long]("n_distinct_keys") === exp(lvl))
      assert(r.getAs[Long]("n_distinct_hashes") === expH(lvl))
      assert(r.getAs[Long]("n_collisions") === exp(lvl) - expH(lvl))
      assert(r.getAs[Long]("n_collisions") === 0L,
        s"60-bit collision found at level $lvl")
      assert(r.getAs[Long]("n_distinct_keys") > 0L)
    }
  }

  test("hashgram score: hashed linear inference matches a JVM-side md5 recompute") {
    def w(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16) % 2001L - 1000L
    }
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val brute = docs.map { case (src, text) =>
      val toks = text.split("[^\\p{L}]+").filter(_.nonEmpty)
      (src, toks.map(w).sum)
    }
    val bySrc = brute.groupBy(_._1)
    val rows = TextOps.hashgramScore(spark, Sf0001).collect()
    rows.foreach { r =>
      val g = bySrc(r.getString(0))
      assert(r.getAs[Long]("sum_score") === g.map(_._2).sum)
      assert(r.getAs[Long]("n_keep") === g.count(_._2 > 0L).toLong)
      // the score actually discriminates: keeps some, drops some
      assert(r.getAs[Long]("n_keep") > 0L)
      assert(r.getAs[Long]("n_keep") < r.getAs[Long]("n_docs"))
    }
  }

  /** Shared brute-force side of the classifier-evaluation specs:
    * per-doc (source, label, clamped floor-div-256 score bin) from a
    * JVM md5 recompute — the sufficient statistic classifier_auc and
    * classifier_pr_sweep are checked against.
    */
  private def bruteScoreBins(): Seq[(String, Long, Long)] = {
    def w(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16) % 2001L - 1000L
    }
    Tables.documents(spark, Sf0001)
      .select("source", "text").collect()
      .map { r =>
        val toks = r.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty)
        val y = if (toks.contains("spark")) 1L else 0L
        val sc = toks.map(w).sum
        val sb = math.max(-128L, math.min(128L, Math.floorDiv(sc, 256L)))
        (r.getString(0), y, sb)
      }.toSeq
  }

  test("classifier AUC: per-source Mann-Whitney midrank AUC matches a brute pairwise count") {
    val docs = bruteScoreBins()
    val rows = TextOps.classifierAuc(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getString(0)
      val pos = docs.filter(d => d._1 == src && d._2 == 1L).map(_._3)
      val neg = docs.filter(d => d._1 == src && d._2 == 0L).map(_._3)
      assert(r.getAs[Long]("n_pos") === pos.length.toLong)
      assert(r.getAs[Long]("n_neg") === neg.length.toLong)
      // brute 2·U: every (pos, neg) bin pair scores 2/1/0 for >/=/<
      val u2 = (for { p <- pos; n <- neg } yield {
        if (p > n) 2L else if (p == n) 1L else 0L
      }).sum
      assert(r.getAs[Long]("u2_pos") === u2, s"u2 mismatch for $src")
      val auc = r.getAs[Double]("auc")
      assert(auc === u2.toDouble / (2.0 * pos.length * neg.length))
      assert(auc >= 0.0 && auc <= 1.0)
    }
    // the hashgram score really discriminates the contains-'spark'
    // label somewhere (w('spark') shifts every positive doc's score)
    assert(rows.exists(r => math.abs(r.getAs[Double]("auc") - 0.5) > 0.05))
  }

  test("classifier PR sweep: conditional sums over bins match brute counts at every threshold") {
    val docs = bruteScoreBins()
    val rows = TextOps.classifierPrSweep(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("thr")).sorted ===
      Array(-8192L, -4096L, 0L, 4096L, 8192L))
    rows.foreach { r =>
      val thr = r.getAs[Long]("thr")
      val tb = thr / 256L
      val tp = docs.count(d => d._2 == 1L && d._3 >= tb).toLong
      val fp = docs.count(d => d._2 == 0L && d._3 >= tb).toLong
      val posTot = docs.count(_._2 == 1L).toLong
      val negTot = docs.count(_._2 == 0L).toLong
      assert(r.getAs[Long]("tp") === tp)
      assert(r.getAs[Long]("fp") === fp)
      assert(r.getAs[Long]("fn") === posTot - tp)
      assert(r.getAs[Long]("tn") === negTot - fp)
      val prec = if (tp + fp > 0) tp * 1000000L / (tp + fp) else 0L
      assert(r.getAs[Long]("precision_ppm") === prec)
      assert(r.getAs[Long]("recall_ppm") === tp * 1000000L / posTot)
      val f1den = 2 * tp + fp + (posTot - tp)
      assert(r.getAs[Long]("f1_ppm") === (if (f1den > 0) tp * 2000000L / f1den else 0L))
    }
    // recall is monotone non-increasing in the threshold, and the
    // sweep actually moves (not all rows identical)
    val byThr = rows.sortBy(_.getAs[Long]("thr")).map(_.getAs[Long]("recall_ppm"))
    assert(byThr.zip(byThr.tail).forall { case (a, b) => a >= b })
    assert(byThr.distinct.length > 1)
  }

  test("classifier kappa: 2x2 agreement vs the integer-exact quality gate, brute recompute") {
    def w(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16) % 2001L - 1000L
    }
    val stop = Set("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for")
    val docs = Tables.documents(spark, Sf0001)
      .select("source", "text").collect()
      .map { r =>
        val text = r.getString(1)
        val atoks = text.split("[^\\p{L}]+").filter(_.nonEmpty)
        val qtoks = text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
        val ka = atoks.map(w).sum > 0L
        val len = text.length.toLong
        val lp = text.count(c => !".,;:!?".contains(c)).toLong
        val ww = qtoks.length.toLong
        val s = qtoks.count(stop.contains).toLong
        val kb = ww >= 5L && lp * (ww + 2 * s) * 10L >= len * ww * 11L
        (r.getString(0), ka, kb)
      }
    val rows = TextOps.classifierKappa(spark, Sf0001).collect()
    rows.foreach { r =>
      val src = r.getString(0)
      val g = docs.filter(_._1 == src)
      val a = g.count(d => d._2 && d._3).toLong
      val b = g.count(d => d._2 && !d._3).toLong
      val c = g.count(d => !d._2 && d._3).toLong
      val dd = g.count(d => !d._2 && !d._3).toLong
      val n = g.length.toLong
      assert(r.getAs[Long]("a") === a)
      assert(r.getAs[Long]("b") === b)
      assert(r.getAs[Long]("c") === c)
      assert(r.getAs[Long]("d") === dd)
      val po = (a + dd) * 1000000L / n
      val pe = ((a + b) * (a + c) + (c + dd) * (b + dd)) * 1000000L / (n * n)
      assert(r.getAs[Long]("po_ppm") === po)
      assert(r.getAs[Long]("pe_ppm") === pe)
      if (pe < 1000000L)
        assert(r.getAs[Double]("kappa") ===
          (po - pe).toDouble / (1000000L - pe).toDouble)
    }
    // both raters fire both ways somewhere — the 2x2 table is full
    assert(docs.exists(d => d._2 && d._3))
    assert(docs.exists(d => !d._2 && !d._3))
    assert(docs.exists(d => d._2 != d._3))
  }

  test("normalize dedup gain: stage sheet matches a brute JVM recompute; gain is real and monotone") {
    val raw = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val noisy = raw.map(_._2) ++
      raw.filter(_._1 % 5 == 0).map(d => d._2.toUpperCase) ++
      raw.filter(_._1 % 7 == 3).map(d => "  " + d._2.replace(" ", "  ") + " ")
    def norm(s: String) = s.toLowerCase.replaceAll("[ \\t\\r\\n]+", " ").trim
    val exp = Map(
      "raw" -> noisy.distinct.length.toLong,
      "case_folded" -> noisy.map(_.toLowerCase).distinct.length.toLong,
      "normalized" -> noisy.map(norm).distinct.length.toLong
    )
    val rows = TextOps.normalizeDedupGain(spark, Sf0001).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val stage = r.getString(0)
      assert(r.getAs[Long]("n_docs") === noisy.length.toLong)
      assert(r.getAs[Long]("n_distinct") === exp(stage), s"stage $stage")
      assert(r.getAs[Long]("n_dup_docs") === noisy.length - exp(stage))
      assert(r.getAs[Long]("dup_ppm") ===
        (noisy.length - exp(stage)) * 1000000L / noisy.length)
    }
    // non-vacuous at every stage boundary: twins exist, case folding
    // alone recovers some but not all, full normalization recovers more
    assert(exp("raw") > exp("case_folded"))
    assert(exp("case_folded") > exp("normalized"))
  }

  test("classifier calibration: per-band positive rates match brute counts") {
    val docs = bruteScoreBins()
    val bands = docs.map { case (_, y, sb) =>
      (math.max(-4L, math.min(3L, Math.floorDiv(sb, 32L))), y)
    }
    val rows = TextOps.classifierCalibration(spark, Sf0001).collect()
    rows.foreach { r =>
      val band = r.getAs[Long]("band")
      val g = bands.filter(_._1 == band)
      assert(r.getAs[Long]("n_docs") === g.length.toLong)
      assert(r.getAs[Long]("n_pos") === g.count(_._2 == 1L).toLong)
      assert(r.getAs[Long]("pos_ppm") ===
        g.count(_._2 == 1L).toLong * 1000000L / g.length)
    }
    assert(rows.map(_.getAs[Long]("band")).toSet === bands.map(_._1).toSet)
    // a real reliability diagram: several bands populated, rate varies
    assert(rows.length >= 3)
    assert(rows.map(_.getAs[Long]("pos_ppm")).distinct.length > 1)
  }

  test("temperature mix: isqrt allocator matches brute; alpha<1 upsamples the tail") {
    val masses = Tables.documents(spark, Sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0),
        r.getString(1).split("[^\\p{L}]+").count(_.nonEmpty).toLong))
      .groupBy(_._1).map { case (s, g) => (s, g.map(_._2).sum) }
    val totMass = masses.values.sum
    val totW = masses.values.map(m => math.sqrt(m.toDouble).toLong).sum
    val budget = totMass / 2
    val rows = TextOps.temperatureMix(spark, Sf0001).collect()
    assert(rows.length === masses.size)
    rows.foreach { r =>
      val m = masses(r.getString(0))
      val w = math.sqrt(m.toDouble).toLong
      assert(r.getAs[Long]("mass") === m)
      assert(r.getAs[Long]("w") === w)
      assert(r.getAs[Long]("share_ppm") === w * 1000000L / totW)
      assert(r.getAs[Long]("alloc") === budget * w / totW)
      assert(r.getAs[Long]("prop_alloc") === budget * m / totMass)
      assert(r.getAs[Long]("upsample_ppm") ===
        (budget * w / totW) * 1000000L / math.max(budget * m / totMass, 1L))
    }
    // alloc/prop ∝ 1/sqrt(mass): the smallest source gains at least
    // as much as the largest loses (strict when masses differ)
    val byMass = rows.sortBy(_.getAs[Long]("mass"))
    assert(byMass.head.getAs[Long]("upsample_ppm") >=
      byMass.last.getAs[Long]("upsample_ppm"))
    assert(byMass.head.getAs[Long]("mass") < byMass.last.getAs[Long]("mass"),
      "corpus should have unequal source masses for a non-vacuous check")
  }

  test("fim split: cut points, span conservation, and PSM fingerprint match a JVM recompute") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val rows = TextOps.fimSplit(spark, Sf0001).collect()
    assert(rows.length === docs.size)
    rows.foreach { r =>
      val id = r.getLong(0)
      val text = docs(id)
      val len = text.length.toLong
      val fim = len >= 32 && h60(s"${id}c") % 100 < 50
      assert(r.getAs[Boolean]("fim_applied") === fim)
      val (lo, hi) =
        if (fim) {
          val c1 = 1 + h60(s"${id}a") % math.max(len - 1, 1)
          val c2 = 1 + h60(s"${id}b") % math.max(len - 1, 1)
          (math.min(c1, c2), math.max(c1, c2))
        } else (len, len)
      assert(r.getAs[Long]("p_len") === lo)
      assert(r.getAs[Long]("m_len") === hi - lo)
      assert(r.getAs[Long]("s_len") === len - hi)
      // span conservation: the three pieces tile the doc exactly
      assert(r.getAs[Long]("p_len") + r.getAs[Long]("m_len") +
        r.getAs[Long]("s_len") === len)
      if (fim) {
        assert(r.getAs[Long]("p_len") >= 1L && r.getAs[Long]("s_len") >= 1L,
          "prefix and suffix must be non-empty on FIM'd docs")
      }
      val psm = "<PRE>" + text.substring(0, lo.toInt) +
        "<SUF>" + text.substring(hi.toInt) +
        "<MID>" + text.substring(lo.toInt, hi.toInt)
      assert(r.getAs[Long]("psm_fp") === h60(psm))
    }
    // the coin really splits the corpus
    assert(rows.exists(_.getAs[Boolean]("fim_applied")))
    assert(rows.exists(!_.getAs[Boolean]("fim_applied")))
  }

  test("shard dedup locality: intra/cross split of the pair artifact matches brute shard keys") {
    def shard(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest((TextOps.ShuffleSeed + id.toString).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(2), 16) % TextOps.NShards
    }
    val pairs = DedupOps.minhashLsh(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val intra = pairs.count { case (a, b) => shard(a) == shard(b) }.toLong
    val row = DedupOps.shardDedupLocality(spark, Sf0001).collect().head
    assert(row.getAs[Long]("n_shards") === TextOps.NShards.toLong)
    assert(row.getAs[Long]("n_pairs") === pairs.length.toLong)
    assert(row.getAs[Long]("n_intra") === intra)
    assert(row.getAs[Long]("n_cross") === pairs.length - intra)
    assert(row.getAs[Long]("cross_ppm") ===
      (pairs.length - intra) * 1000000L / math.max(pairs.length, 1))
    // content-independent layout: most near-dup pairs cross shards
    // (expected 1 - 1/S = 87.5%), so per-shard dedup provably misses
    assert(pairs.nonEmpty && row.getAs[Long]("n_cross") > 0L)
  }

  test("classifier yield sweep: doc and token yields match brute counts; monotone in threshold") {
    def w(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16) % 2001L - 1000L
    }
    val docs = Tables.documents(spark, Sf0001)
      .select("text").collect()
      .map { r =>
        val toks = r.getString(0).split("[^\\p{L}]+").filter(_.nonEmpty)
        val sb = math.max(-128L, math.min(128L, Math.floorDiv(toks.map(w).sum, 256L)))
        (sb, toks.length.toLong)
      }
    val docsTot = docs.length.toLong
    val toksTot = docs.map(_._2).sum
    val rows = TextOps.classifierYieldSweep(spark, Sf0001).collect()
    rows.foreach { r =>
      val tb = r.getAs[Long]("thr") / 256L
      val kept = docs.filter(_._1 >= tb)
      assert(r.getAs[Long]("docs_kept") === kept.length.toLong)
      assert(r.getAs[Long]("toks_kept") === kept.map(_._2).sum)
      assert(r.getAs[Long]("doc_keep_ppm") === kept.length * 1000000L / docsTot)
      assert(r.getAs[Long]("token_keep_ppm") === kept.map(_._2).sum * 1000000L / toksTot)
    }
    // yield shrinks as the cut rises, and the sweep actually moves
    val byThr = rows.sortBy(_.getAs[Long]("thr")).map(_.getAs[Long]("token_keep_ppm"))
    assert(byThr.zip(byThr.tail).forall { case (a, b) => a >= b })
    assert(byThr.distinct.length > 1)
  }

  test("round-7 additions are partition-invariant: parallelism 2 vs 16") {
    // the classifier family's bounded bin frames + rank windows, the
    // allocator totals broadcast, the modularity/locality rollups over
    // the pair artifact, and the pure-map transforms must not bake the
    // partition count into any value
    val names = Seq("classifier_auc", "classifier_pr_sweep", "classifier_kappa",
      "classifier_calibration", "classifier_yield_sweep", "normalize_dedup_gain",
      "temperature_mix", "fim_split", "shard_dedup_locality", "dup_modularity",
      "span_corruption")
    def run(): Map[String, Set[String]] = names.map { n =>
      n -> SparkEntry.queries(n)(spark, Sf0001).collect().map(_.toString).toSet
    }.toMap
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val r2 = run()
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      val r16 = run()
      names.foreach(n => assert(r2(n) === r16(n), s"query $n partition-sensitive"))
      assert(r2.values.forall(_.nonEmpty))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("round-7 continuation additions are partition-invariant: parallelism 2 vs 16") {
    // the rule/gram sheets' per-source rollups, the clustering
    // evaluation's quantized sums + per-cluster windows, the rank
    // ledger behind the shuffle audit, the BPE prefix replay, and the
    // kernel transforms must not bake the partition count into any
    // value
    val names = Seq("gopher_rules", "top_ngram_mass", "proto_prune",
      "silhouette_sheet", "cluster_rand_index", "bpe_vocab_sweep", "ul2_mix",
      "mm_audio_vad", "epoch_shuffle_audit", "detector_bakeoff",
      "crawl_revisit_audit", "sft_render_mask")
    def run(): Map[String, Set[String]] = names.map { n =>
      n -> SparkEntry.queries(n)(spark, Sf0001).collect().map(_.toString).toSet
    }.toMap
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val r2 = run()
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      val r16 = run()
      names.foreach(n => assert(r2(n) === r16(n), s"query $n partition-sensitive"))
      assert(r2.values.forall(_.nonEmpty))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("span corruption: merged spans, sentinel collapsing, and fingerprints match a JVM recompute") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty)))
      .toMap
    val rows = TextOps.spanCorruption(spark, Sf0001).collect()
    assert(rows.length === docs.size)
    var anySpan = false
    rows.foreach { r =>
      val id = r.getLong(0)
      val toks = docs(id)
      val n = toks.length
      val starts = (0 until n).map(j => h60(s"$id:$j") % 14 == 0)
      val lens = (0 until n).map(j => 1 + h60(s"$id;$j") % 3)
      val corr = (0 until n).map { i =>
        starts(i) ||
          (i >= 1 && starts(i - 1) && lens(i - 1) >= 2) ||
          (i >= 2 && starts(i - 2) && lens(i - 2) >= 3)
      }
      val nCorr = corr.count(identity).toLong
      val nSpans = (0 until n).count(i => corr(i) && (i == 0 || !corr(i - 1))).toLong
      val masked = (0 until n).flatMap { i =>
        if (!corr(i)) Some(toks(i))
        else if (i == 0 || !corr(i - 1)) Some("<X>")
        else None
      }.mkString(" ")
      val target = (0 until n).flatMap { i =>
        if (!corr(i)) None
        else if (i == 0 || !corr(i - 1)) Some("<X> " + toks(i))
        else Some(toks(i))
      }.mkString(" ")
      assert(r.getAs[Long]("n_tokens") === n.toLong)
      assert(r.getAs[Long]("n_corrupted") === nCorr)
      assert(r.getAs[Long]("n_spans") === nSpans)
      assert(r.getAs[Long]("masked_fp") === h60(masked), s"masked mismatch doc $id")
      assert(r.getAs[Long]("target_fp") === h60(target), s"target mismatch doc $id")
      assert(r.getAs[Long]("corrupt_ppm") === nCorr * 1000000L / math.max(n, 1))
      if (nSpans > 0) anySpan = true
      // sentinel accounting: every span contributes exactly one <X>
      // to each side, so masked+target token mass tiles the doc
      assert((n - nCorr) + nSpans === masked.split(" ").filter(_.nonEmpty).length.toLong)
    }
    assert(anySpan, "the draw should corrupt some docs at this SF")
    // corruption rate lands near the designed ~14% corpus-wide
    val tot = rows.map(_.getAs[Long]("n_tokens")).sum
    val corrTot = rows.map(_.getAs[Long]("n_corrupted")).sum
    val rate = corrTot.toDouble / tot
    assert(rate > 0.08 && rate < 0.22, s"corruption rate $rate off design")
  }

  test("dup modularity: integer numerator and Q match a brute graph recompute") {
    val srcOf = Tables.documents(spark, Sf0001)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val pairs = DedupOps.minhashLsh(spark, Sf0001).collect()
      .map(r => (srcOf(r.getLong(0)), srcOf(r.getLong(1))))
    val m = pairs.length.toLong
    val se = pairs.count(p => p._1 == p._2).toLong
    val deg = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(identity).map { case (_, g) => g.length.toLong }
    val sd = deg.map(d => d * d).sum
    val row = DedupOps.dupModularity(spark, Sf0001).collect().head
    assert(row.getAs[Long]("n_pairs") === m)
    assert(row.getAs[Long]("sum_intra") === se)
    assert(row.getAs[Long]("sum_deg_sq") === sd)
    assert(row.getAs[Long]("q_num") === 4 * m * se - sd)
    assert(row.getAs[Double]("q") === (4 * m * se - sd).toDouble / (4.0 * m * m))
    // non-vacuous: the graph exists and source structure is visible
    assert(m > 0L)
    assert(row.getAs[Double]("q") !== 0.0)
  }

  test("gopher rules: per-rule failure counts match a brute recompute and every rule fires") {
    val docs = TextOps.gopherDocs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def fails(text: String): Seq[Boolean] = {
      val words = text.split("\\s+").filter(_.nonEmpty)
      val nWords = words.length.toLong
      val nWchars = text.replaceAll("\\s", "").length.toLong
      val nAlpha = words.count(_.matches("[a-z]+")).toLong
      val nSymbol = words.count(w => w == "#" || w.contains("...")).toLong
      val lines = text.split("\n", -1)
      val nLines = lines.length.toLong
      val nBullet = lines.count(_.startsWith("- ")).toLong
      val nEll = lines.count(_.endsWith("...")).toLong
      val nStop = text.split("[^\\p{L}]+").filter(_.nonEmpty)
        .count(t => t == "the" || t == "a").toLong
      Seq(
        nWords < 50 || nWords > 100000,
        nWchars < nWords * 3 || nWchars > nWords * 10,
        nSymbol * 10 > nWords,
        nBullet * 10 > nLines * 9,
        nEll * 10 > nLines * 3,
        nAlpha * 5 < nWords * 4,
        nStop < 2
      )
    }
    val ruleCols = Seq("fail_words", "fail_mwl", "fail_symbol", "fail_bullet",
      "fail_ellipsis", "fail_alpha", "fail_stop")
    val brute = docs.groupBy(_._2).map { case (src, g) =>
      val fs = g.map(d => fails(d._3))
      val perRule = ruleCols.indices.map(i => fs.count(_(i)).toLong)
      val nPass = fs.count(f => !f.exists(identity)).toLong
      src -> (g.length.toLong, perRule, nPass)
    }
    val got = TextOps.gopherRules(spark, Sf0001).collect()
    assert(got.length === brute.size)
    got.foreach { r =>
      val (nDocs, perRule, nPass) = brute(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") === nDocs)
      ruleCols.zipWithIndex.foreach { case (c, i) =>
        assert(r.getAs[Long](c) === perRule(i), s"rule $c source ${r.getString(0)}")
      }
      assert(r.getAs[Long]("n_pass") === nPass)
      assert(r.getAs[Long]("pass_ppm") === nPass * 1000000L / nDocs)
    }
    // NON-VACUITY: every rule fails somewhere AND passes somewhere —
    // the injections plant bullet/ellipsis/symbol/alpha/mwl failures,
    // short docs and low-stop docs occur naturally at every SF
    ruleCols.indices.foreach { i =>
      val tot = brute.valuesIterator.map(_._2(i)).sum
      val n = brute.valuesIterator.map(_._1).sum
      assert(tot > 0L, s"rule ${ruleCols(i)} never fails")
      assert(tot < n, s"rule ${ruleCols(i)} always fails")
    }
    assert(brute.valuesIterator.map(_._3).sum > 0L, "no doc survives the full gate")
  }

  test("top ngram mass: brute per-doc top shares agree; planted runs trip all three levels") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val docs = TextOps.repDocs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq
    val thr = Map(2 -> 200000L, 3 -> 180000L, 4 -> 160000L)
    case class Cell(var nDocs: Long = 0, var nOver: Long = 0,
                    var sumTop: Long = 0, var sumGrams: Long = 0)
    val brute = collection.mutable.Map[(String, Long), Cell]()
    val plantedOver = collection.mutable.ArrayBuffer[Boolean]()
    docs.foreach { case (id, src, text) =>
      val ts = toks(text)
      (2 to 4).foreach { n =>
        // the production side counts the 60-bit kernel hashes of the
        // space-joined windows — count the same hashes here
        val grams = ts.sliding(n).filter(_.length == n)
          .map(w => h60(w.mkString(" "))).toSeq
        val topC = if (grams.isEmpty) 0L
          else grams.groupBy(identity).valuesIterator.map(_.length.toLong).max
        val over = topC * 1000000L > thr(n) * grams.length
        val c = brute.getOrElseUpdate((src, n.toLong), Cell())
        c.nDocs += 1; if (over) c.nOver += 1
        c.sumTop += topC; c.sumGrams += grams.length
        if (id % 37 == 0) plantedOver += over
      }
    }
    val got = TextOps.topNgramMass(spark, Sf0001).collect()
    assert(got.length === brute.size)
    got.foreach { r =>
      val c = brute((r.getAs[String]("source"), r.getAs[Long]("n")))
      assert(r.getAs[Long]("n_docs") === c.nDocs)
      assert(r.getAs[Long]("n_over") === c.nOver)
      assert(r.getAs[Long]("sum_top") === c.sumTop)
      assert(r.getAs[Long]("sum_grams") === c.sumGrams)
      assert(r.getAs[Long]("over_ppm") === c.nOver * 1000000L / c.nDocs)
    }
    // the planted 30-token run exceeds every threshold unconditionally
    // (≤ 98 natural words → top share ≥ 29/127 = 22.8% > 20/18/16%)
    assert(plantedOver.nonEmpty && plantedOver.forall(identity))
    // and the rule discriminates: clean docs exist at every level
    (2 to 4).foreach { n =>
      val over = brute.collect { case ((_, m), c) if m == n => c.nOver }.sum
      val all = brute.collect { case ((_, m), c) if m == n => c.nDocs }.sum
      assert(over > 0L && over < all)
    }
  }

  test("proto prune: all-integer prune sheet matches a brute centroid-cosine recompute") {
    val asg = SimilarityOps.kmeansAssign(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val embs = Tables.embeddings(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val got = SimilarityOps.protoPrune(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("cluster") -> r).toMap
    val byCluster = asg.groupBy(_._2)
    assert(got.keySet === byCluster.keySet)
    var anyPruned = false
    byCluster.foreach { case (c, ms) =>
      val ids = ms.map(_._1).sorted
      val n = ids.length
      val dim = embs(ids.head).length
      val sums = Array.fill(dim)(0L)
      ids.foreach { id =>
        val e = embs(id)
        (0 until dim).foreach(j => sums(j) += math.round(e(j).toDouble * 1000000.0))
      }
      val cvec = sums.map(s => s.toDouble / 1000000.0 / n)
      val cnorm = math.sqrt(cvec.foldLeft(0.0)((a, x) => a + x * x))
      def csim(id: Long): Double = {
        val e = embs(id)
        val dot = (0 until dim).foldLeft(0.0)((a, j) => a + e(j).toDouble * cvec(j))
        val nv = math.sqrt((0 until dim).foldLeft(0.0)((a, j) =>
          a + e(j).toDouble * e(j).toDouble))
        dot / (nv * cnorm)
      }
      val ranked = ids.sortBy(id => (-csim(id), id))
      val nPrune = n / 5
      val (pruned, kept) = ranked.splitAt(nPrune)
      val r = got(c)
      assert(r.getAs[Long]("n_vecs") === n.toLong)
      assert(r.getAs[Long]("n_pruned") === nPrune.toLong)
      assert(r.getAs[Long]("n_kept") === (n - nPrune).toLong)
      assert(r.getAs[Long]("pruned_id_sum") === pruned.sum, s"pruned set cluster $c")
      assert(r.getAs[Long]("kept_id_sum") === kept.sum, s"kept set cluster $c")
      if (nPrune > 0) anyPruned = true
    }
    assert(anyPruned, "some cluster must be large enough to prune")
  }

  test("silhouette sheet: quantized sums match a brute own-vs-other seed recompute") {
    val embs = Tables.embeddings(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def nsq(e: Array[Float]): Double =
      e.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
    def dt(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0)((a, i) => a + x(i).toDouble * y(i).toDouble)
    val seeds = embs.filter(_._1 < 8).map { case (id, e) => (id, e, nsq(e)) }
    case class Cell(var n: Long = 0, var sum: Long = 0, var neg: Long = 0)
    val brute = collection.mutable.Map[Long, Cell]()
    var anyPos = false
    embs.foreach { case (_, e) =>
      val vn2 = nsq(e)
      val ds = seeds.map { case (sid, se, sn2) => (vn2 + sn2 - 2.0 * dt(e, se), sid) }
      val (a2, own) = ds.minBy(identity)
      val b2 = ds.filter(_._2 != own).map(_._1).min
      val (a, b) = (math.sqrt(a2), math.sqrt(b2))
      val sil = if (math.max(a, b) == 0.0) 0.0 else (b - a) / math.max(a, b)
      val sq = math.round(sil * 1000000.0)
      val c = brute.getOrElseUpdate(own, Cell())
      c.n += 1; c.sum += sq; if (sq < 0) c.neg += 1
      if (sq > 0) anyPos = true
    }
    val got = SimilarityOps.silhouetteSheet(spark, Sf0001).collect()
    assert(got.length === brute.size)
    got.foreach { r =>
      val c = brute(r.getAs[Long]("cluster"))
      assert(r.getAs[Long]("n_vecs") === c.n)
      assert(r.getAs[Long]("sum_sil_q") === c.sum, s"cluster ${r.getLong(0)}")
      assert(r.getAs[Long]("n_negative") === c.neg)
      assert(r.getAs[Double]("mean_sil") === c.sum.toDouble / 1000000.0 / c.n)
    }
    assert(got.map(_.getAs[Long]("n_vecs")).sum === embs.length.toLong)
    // seeds sit at distance 0 from themselves -> s = 1 rows exist
    assert(anyPos)
  }

  test("cluster rand index: pair-counting RI/ARI match a brute contingency recompute") {
    val asg = SimilarityOps.kmeansAssign(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val labels = Tables.embeddings(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(2).toLong)).toMap
    def c2(x: Long): Long = x * (x - 1) / 2
    val ct = asg.toSeq.groupBy { case (id, cl) => (cl, labels(id)) }
      .map { case (k, g) => (k, g.size.toLong) }
    val idx = ct.valuesIterator.map(c2).sum
    val n = asg.size.toLong
    val sumA = ct.groupBy(_._1._1).values.map(g => c2(g.map(_._2).sum)).sum
    val sumB = ct.groupBy(_._1._2).values.map(g => c2(g.map(_._2).sum)).sum
    val total = c2(n)
    val r = SimilarityOps.clusterRandIndex(spark, Sf0001).collect().head
    assert(r.getAs[Long]("n") === n)
    assert(r.getAs[Long]("n_clusters") === ct.keySet.map(_._1).size.toLong)
    assert(r.getAs[Long]("n_labels") === ct.keySet.map(_._2).size.toLong)
    assert(r.getAs[Long]("idx_pairs") === idx)
    assert(r.getAs[Long]("sum_a") === sumA)
    assert(r.getAs[Long]("sum_b") === sumB)
    assert(r.getAs[Long]("total_pairs") === total)
    assert(r.getAs[Long]("ri_ppm") === (total + 2 * idx - sumA - sumB) * 1000000L / total)
    val ariDen = total * (sumA + sumB) - 2 * sumA * sumB
    assert(ariDen !== 0L)
    assert(r.getAs[Double]("ari") ===
      2.0 * (idx * total - sumA * sumB).toDouble / ariDen.toDouble)
    // the two partitions are real: multiple clusters AND labels
    assert(r.getAs[Long]("n_clusters") > 1L && r.getAs[Long]("n_labels") > 1L)
  }

  test("bpe vocab sweep: prefix replay matches a brute recompute and nests into bpe_encode") {
    val merges = TextOps.bpeTrain(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val words = Tables.documents(spark, Sf0001).collect()
      .flatMap(_.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty))
    val counts = words.groupBy(identity).map { case (w, g) => (w, g.length.toLong) }
    def baseSeq(w: String): String = " " + w.map(c => s"$c ").mkString.trim + " "
    val got = TextOps.bpeVocabSweep(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("n_merges") -> r).toMap
    assert(got.keySet === TextOps.BpeSweepKs.map(_.toLong).toSet)
    var prevTokens = Long.MaxValue
    TextOps.BpeSweepKs.foreach { k =>
      val seqs = counts.keysIterator.map { w =>
        val s = merges.take(k).foldLeft(baseSeq(w)) { case (cur, (_, a, b)) =>
          val from = s" $a $b "
          val to = s" $a$b "
          cur.replace(from, to).replace(from, to).replace(from, to)
        }
        w -> s
      }.toMap
      val nLetters = counts.map { case (w, c) => c * w.length }.sum
      val nTokens = counts.map { case (w, c) =>
        c * seqs(w).trim.split(" ").count(_.nonEmpty)
      }.sum
      val nVocab = seqs.values.flatMap(_.trim.split(" ").filter(_.nonEmpty)).toSet.size.toLong
      val r = got(k.toLong)
      assert(r.getAs[Long]("n_letters") === nLetters, s"letters at k=$k")
      assert(r.getAs[Long]("n_bpe_tokens") === nTokens, s"tokens at k=$k")
      assert(r.getAs[Long]("n_vocab_symbols") === nVocab, s"vocab at k=$k")
      assert(r.getAs[Long]("compression_ppm") === nTokens * 1000000L / nLetters)
      // more merges can only merge: token mass is monotone non-increasing
      assert(nTokens <= prevTokens)
      prevTokens = nTokens
    }
    // the full-merge point nests into the bpe_encode per-source sheet
    val enc = TextOps.bpeEncode(spark, Sf0001).collect()
    val full = got(TextOps.BpeMerges.toLong)
    assert(enc.map(_.getAs[Long]("n_letters")).sum === full.getAs[Long]("n_letters"))
    assert(enc.map(_.getAs[Long]("n_bpe_tokens")).sum === full.getAs[Long]("n_bpe_tokens"))
    // the sweep is non-degenerate: merges actually shrink the corpus
    assert(got(TextOps.BpeSweepKs.head.toLong).getAs[Long]("n_bpe_tokens") >
      full.getAs[Long]("n_bpe_tokens"))
  }

  test("ul2 mix: denoiser allocation and loss-token masses match a JVM recompute") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split("[^\\p{L}]+").filter(_.nonEmpty)))
    case class Cell(var docs: Long = 0, var toks: Long = 0, var loss: Long = 0)
    val brute = collection.mutable.Map[(String, String), Cell]()
    docs.foreach { case (id, src, toks) =>
      val n = toks.length
      val starts = (0 until n).map(j => h60(s"$id:$j") % 14 == 0)
      val lens = (0 until n).map(j => 1 + h60(s"$id;$j") % 3)
      val nCorr = (0 until n).count { i =>
        starts(i) ||
          (i >= 1 && starts(i - 1) && lens(i - 1) >= 2) ||
          (i >= 2 && starts(i - 2) && lens(i - 2) >= 3)
      }.toLong
      val den = h60(s"${id}u") % 4 match {
        case 0 | 1 => "R"; case 2 => "S"; case _ => "X"
      }
      val loss = den match {
        case "R" => nCorr; case "S" => n.toLong / 4; case _ => n.toLong / 2
      }
      val c = brute.getOrElseUpdate((src, den), Cell())
      c.docs += 1; c.toks += n; c.loss += loss
    }
    val got = TextOps.ul2Mix(spark, Sf0001).collect()
    assert(got.length === brute.size)
    got.foreach { r =>
      val c = brute((r.getString(0), r.getString(1)))
      assert(r.getAs[Long]("n_docs") === c.docs)
      assert(r.getAs[Long]("n_tokens") === c.toks)
      assert(r.getAs[Long]("loss_tokens") === c.loss,
        s"loss ${r.getString(0)}/${r.getString(1)}")
      assert(r.getAs[Long]("loss_ppm") === c.loss * 1000000L / math.max(c.toks, 1L))
    }
    // the mixture is real: every denoiser class draws docs
    Seq("R", "S", "X").foreach { d =>
      assert(brute.keysIterator.exists(_._2 == d), s"denoiser $d never drawn")
    }
    // R's loss accounting is the SAME draw span_corruption gates
    val spanByDoc = TextOps.spanCorruption(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_corrupted"))).toMap
    val rLossExp = docs.collect {
      case (id, _, _) if h60(s"${id}u") % 4 < 2 => spanByDoc(id)
    }.sum
    val rLossGot = got.filter(_.getString(1) == "R").map(_.getAs[Long]("loss_tokens")).sum
    assert(rLossGot === rLossExp)
  }

  test("audio vad: self-normalized activity and longest runs match a brute byte recompute") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val got = graft.sources.MultimodalOps.mmAudioVad(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    var anyMixed = false
    docs.foreach { case (id, text) =>
      val nw = text.length / 64
      if (nw >= 1) {
        val es = (0 until nw).map(i =>
          (0 until 64).map(j => text.charAt(i * 64 + j).toLong).sum)
        val total = es.sum
        val act = es.map(e => e * nw > total)
        var cur = 0L; var best = 0L
        act.foreach { a => if (a) { cur += 1; best = math.max(best, cur) } else cur = 0 }
        val r = got(id)
        assert(r.getAs[Long]("n_windows") === nw.toLong)
        assert(r.getAs[Long]("n_active") === act.count(identity).toLong, s"media $id")
        assert(r.getAs[Long]("longest_run") === best, s"run media $id")
        assert(r.getAs[Long]("active_ppm") === act.count(identity).toLong * 1000000L / nw)
        if (act.exists(identity) && act.exists(!_)) anyMixed = true
      } else assert(!got.contains(id), s"sub-window media $id must be skipped")
    }
    assert(got.size === docs.count(_._2.length >= 64))
    // the self-normalizing cut separates: some media has BOTH classes
    assert(anyMixed)
  }

  test("epoch shuffle audit: adjacency census matches a brute seeded-permutation recompute") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ordered = docs.sortBy { case (id, _) => (h60(s"${id}ep"), id) }.map(_._2)
    val n = ordered.length.toLong
    val observed = ordered.sliding(2).count(p => p.length == 2 && p(0) == p(1)).toLong
    val sumNs2 = docs.groupBy(_._2).values
      .map(g => g.length.toLong * (g.length - 1)).sum
    val r = LayoutOps.epochShuffleAudit(spark, Sf0001).collect().head
    assert(r.getAs[Long]("n_docs") === n)
    assert(r.getAs[Long]("n_slots") === n - 1)
    assert(r.getAs[Long]("observed_same") === observed)
    assert(r.getAs[Long]("sum_ns2") === sumNs2)
    assert(r.getAs[Long]("observed_ppm") === observed * 1000000L / (n - 1))
    assert(r.getAs[Long]("expected_ppm") ===
      BigInt(sumNs2) * 1000000 / (BigInt(n) * (n - 1)))
    assert(r.getAs[Double]("clump_ratio") ===
      observed.toDouble * n.toDouble / sumNs2.toDouble)
    // the hash shuffle mixes: clumping exists but is not total
    assert(observed > 0L && observed < n - 1)
  }

  test("detector bakeoff: recall/fp match a brute recompute; the gram rule catches what the cheap rules claim") {
    val docs = TextOps.repDocs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq
    case class Cell(var np: Long = 0, var nc: Long = 0, var dp: Long = 0, var fc: Long = 0)
    val brute = Map("top2gram" -> Cell(), "maxrun" -> Cell(), "distinct_ratio" -> Cell())
    docs.foreach { case (id, text) =>
      val ts = toks(text)
      val planted = id % 37 == 0
      val grams = if (ts.length >= 2) ts.sliding(2).map(_.mkString(" ")).toSeq else Seq.empty
      val topC = if (grams.isEmpty) 0L
        else grams.groupBy(identity).valuesIterator.map(_.length.toLong).max
      var cur = 0L; var maxrun = 0L; var prev: String = null
      ts.foreach { t =>
        if (t == prev) cur += 1 else cur = 1
        prev = t; maxrun = math.max(maxrun, cur)
      }
      val flags = Map(
        "top2gram" -> (topC * 5 > grams.length),
        "maxrun" -> (maxrun > 2),
        "distinct_ratio" -> (ts.distinct.length.toLong * 5 < ts.length)
      )
      flags.foreach { case (d, f) =>
        val c = brute(d)
        if (planted) { c.np += 1; if (f) c.dp += 1 }
        else { c.nc += 1; if (f) c.fc += 1 }
      }
    }
    val got = TextOps.detectorBakeoff(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet === brute.keySet)
    brute.foreach { case (d, c) =>
      val r = got(d)
      assert(r.getAs[Long]("n_planted") === c.np)
      assert(r.getAs[Long]("n_clean") === c.nc)
      assert(r.getAs[Long]("detected_planted") === c.dp, s"recall of $d")
      assert(r.getAs[Long]("flagged_clean") === c.fc, s"fp of $d")
      assert(r.getAs[Long]("recall_ppm") === c.dp * 1000000L / math.max(c.np, 1L))
      assert(r.getAs[Long]("fp_ppm") === c.fc * 1000000L / math.max(c.nc, 1L))
    }
    // the planted 30-token run is caught unconditionally by the gram
    // and max-run rules; the distinct-ratio rule provably misses some
    assert(brute("top2gram").dp === brute("top2gram").np)
    assert(brute("maxrun").dp === brute("maxrun").np)
    assert(brute("distinct_ratio").dp < brute("distinct_ratio").np)
    assert(brute("top2gram").np > 0L)
  }

  test("crawl revisit audit: fetch/digest split matches a brute recompute and the planted classes") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // brute: per (source, url) the fetch list with its content digests
    case class Cell(var fetches: Long = 0, var urls: Long = 0,
                    var ident: Long = 0, var changed: Long = 0)
    val brute = collection.mutable.Map[String, Cell]()
    docs.foreach { case (id, src, text) =>
      val contents = Seq(text) ++
        (if (id % 11 == 0) Seq(text + " updated") else Nil) ++
        (if (id % 13 == 0) Seq(text) else Nil)
      val f = contents.length.toLong
      val d = contents.distinct.length.toLong
      val c = brute.getOrElseUpdate(src, Cell())
      c.fetches += f; c.urls += 1; c.ident += f - d; c.changed += d - 1
    }
    val got = TextOps.crawlRevisitAudit(spark, Sf0001).collect()
    assert(got.length === brute.size)
    got.foreach { r =>
      val c = brute(r.getString(0))
      assert(r.getAs[Long]("n_fetches") === c.fetches)
      assert(r.getAs[Long]("n_urls") === c.urls)
      assert(r.getAs[Long]("n_identical_revisits") === c.ident, s"${r.getString(0)}")
      assert(r.getAs[Long]("n_changed_revisits") === c.changed)
      assert(r.getAs[Long]("revisit_ppm") ===
        (c.fetches - c.urls) * 1000000L / c.fetches)
    }
    // the planted classes account exactly: one identical refetch per
    // %13 doc, one changed refetch per %11 doc
    val ids = docs.map(_._1)
    assert(got.map(_.getAs[Long]("n_identical_revisits")).sum ===
      ids.count(_ % 13 == 0).toLong)
    assert(got.map(_.getAs[Long]("n_changed_revisits")).sum ===
      ids.count(_ % 11 == 0).toLong)
    assert(ids.exists(_ % 13 == 0) && ids.exists(_ % 11 == 0))
  }

  test("sft render mask: template fingerprint and role-masked loss match a brute recompute") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val got = TextOps.sftRenderMask(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size === docs.length)
    docs.foreach { case (id, text) =>
      val toks = text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq
      val n = toks.length
      val q = (n + 3) / 4
      val u1 = toks.slice(0, q)
      val a1 = toks.slice(q, 2 * q)
      val u2 = toks.slice(2 * q, 3 * q)
      val a2 = toks.slice(3 * q, n)
      val render = "<|user|> " + u1.mkString(" ") +
        " <|assistant|> " + a1.mkString(" ") +
        " <|user|> " + u2.mkString(" ") +
        " <|assistant|> " + a2.mkString(" ")
      val r = got(id)
      assert(r.getAs[Long]("n_tokens") === n.toLong)
      assert(r.getAs[Long]("n_turns") ===
        Seq(u1, a1, u2, a2).count(_.nonEmpty).toLong)
      assert(r.getAs[Long]("n_loss_tokens") === (a1.length + a2.length).toLong)
      assert(r.getAs[Long]("render_fp") === h60(render), s"render mismatch doc $id")
      assert(r.getAs[Long]("loss_ppm") ===
        (a1.length + a2.length).toLong * 1000000L / math.max(n, 1))
      // the mask is a real split: loss tokens exist and never exceed half
      if (n >= 4) {
        assert(a1.nonEmpty)
        assert(2 * (a1.length + a2.length) <= n + 1)
      }
    }
  }

  test("hybrid RRF: fused top-k matches a full JVM recompute of both arms") {
    // independent recompute of BOTH retrieval arms (BM25 more-like-this
    // with quantized per-term scores; brute cosine) and the integer RRF
    // fusion — nothing is read back from the operator's intermediates
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)
        .toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    val nDocs = docs.length
    val dl = docs.map { case (id, t) => id -> t.length.toLong }.toMap
    val avgdl = dl.values.sum.toDouble / nDocs
    val tf: Map[Long, Map[String, Long]] =
      docs.map { case (id, t) => id -> t.groupBy(identity).map { case (w, o) => w -> o.length.toLong } }.toMap
    val dfAll: Map[String, Long] = docs.flatMap(_._2.distinct).groupBy(identity)
      .map { case (w, o) => w -> o.length.toLong }
    def lexList(qid: Long): Seq[(Long, Long)] = { // (doc_id, lex_sq) ranked, top 10
      val terms = docs.find(_._1 == qid).get._2.distinct
      docs.filter(_._1 != qid).flatMap { case (d, _) =>
        val sq = terms.flatMap { t =>
          tf(d).get(t).map { f =>
            val df = dfAll(t).toDouble
            val idf = (nDocs.toDouble - df + 0.5) / (df + 0.5)
            val s = idf * (f.toDouble * (1.2 + 1.0)) /
              (f.toDouble + 1.2 * ((1.0 - 0.75) + 0.75 * dl(d).toDouble / avgdl))
            math.round(s * 1000000.0)
          }
        }.sum
        if (sq == 0L && terms.forall(t => !tf(d).contains(t))) None else Some((d, sq))
      }.sortBy { case (d, sq) => (-sq, d) }.take(10)
    }
    val emb = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def norm(v: Array[Float]): Double =
      math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    def semList(qid: Long): Seq[Long] = {
      val q = emb.find(_._1 == qid).get._2
      emb.filter(_._1 != qid).map { case (n, v) =>
        val dot = q.zip(v).foldLeft(0.0)((a, p) => a + p._1.toDouble * p._2.toDouble)
        (n, dot / (norm(q) * norm(v)))
      }.sortBy { case (n, s) => (-s, n) }.take(5).map(_._1).toSeq
    }
    val expected = (0L until 5L).flatMap { qid =>
      val lex = lexList(qid).zipWithIndex.map { case ((d, _), i) => d -> (i + 1).toLong }.toMap
      val sem = semList(qid).zipWithIndex.map { case (d, i) => d -> (i + 1).toLong }.toMap
      (lex.keySet ++ sem.keySet).toSeq.map { d =>
        val rrf = lex.get(d).map(r => 1000000L / (60L + r)).getOrElse(0L) +
          sem.get(d).map(r => 1000000L / (60L + r)).getOrElse(0L)
        (d, lex.getOrElse(d, 0L), sem.getOrElse(d, 0L), rrf)
      }.sortBy { case (d, _, _, rrf) => (-rrf, d) }.take(5).zipWithIndex
        .map { case ((d, lr, sr, rrf), i) => (qid, d, lr, sr, rrf, (i + 1).toLong) }
    }.toSet
    val got = SimilarityOps.hybridRrfTopK(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === expected)
    assert(got.size === 25)
    // recall sheet consistency against the same recompute
    val truth = (0L until 5L).flatMap(q => semList(q).map(q -> _)).toSet
    val lexTop = (0L until 5L).flatMap(q =>
      lexList(q).take(5).map { case (d, _) => q -> d }).toSet
    val fusedTop = expected.map { case (q, d, _, _, _, _) => q -> d }
    val rec = SimilarityOps.hybridRecall(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rec("lexical_arm") === ((truth.size.toLong, lexTop.size.toLong,
      (truth & lexTop).size.toLong, (truth & lexTop).size.toLong * 1000000L / truth.size)))
    assert(rec("hybrid_rrf") === ((truth.size.toLong, fusedTop.size.toLong,
      (truth & fusedTop).size.toLong, (truth & fusedTop).size.toLong * 1000000L / truth.size)))
  }

  test("hybrid lexical arm df cap screens stopword-grade terms from the score join") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)
        .toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    val nDocs = docs.length
    val dl = docs.map { case (id, t) => id -> t.length.toLong }.toMap
    val avgdl = dl.values.sum.toDouble / nDocs
    val tf: Map[Long, Map[String, Long]] =
      docs.map { case (id, t) => id -> t.groupBy(identity).map { case (w, o) => w -> o.length.toLong } }.toMap
    val dfAll: Map[String, Long] = docs.flatMap(_._2.distinct).groupBy(identity)
      .map { case (w, o) => w -> o.length.toLong }
    // the production cap can never bind at test SFs: df <= n_docs << cap,
    // which is what keeps the gate hashes cap-invariant
    assert(dfAll.values.max < SimilarityOps.HybridDfCap)
    // force the screen to BIND and recompute the capped arm in the JVM
    val cap = 40L
    assert(dfAll.values.exists(_ > cap), "cap must screen something at sf0.001")
    def lexList(qid: Long): Seq[(Long, Long)] = {
      val terms = docs.find(_._1 == qid).get._2.distinct.filter(t => dfAll(t) <= cap)
      docs.filter(_._1 != qid).flatMap { case (d, _) =>
        val shared = terms.filter(t => tf(d).contains(t))
        if (shared.isEmpty) None
        else Some((d, shared.map { t =>
          val f = tf(d)(t)
          val df = dfAll(t).toDouble
          val idf = (nDocs.toDouble - df + 0.5) / (df + 0.5)
          val s = idf * (f.toDouble * (1.2 + 1.0)) /
            (f.toDouble + 1.2 * ((1.0 - 0.75) + 0.75 * dl(d).toDouble / avgdl))
          math.round(s * 1000000.0)
        }.sum))
      }.sortBy { case (d, sq) => (-sq, d) }.take(10)
    }
    val expected = (0L until 5L).flatMap { qid =>
      lexList(qid).zipWithIndex.map { case ((d, sq), i) => (qid, d, sq, (i + 1).toLong) }
    }.toSet
    val got = SimilarityOps.hybridLexArmBuild(spark, Sf0001, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
    // the screen genuinely changed the arm (hot terms carried signal)
    val uncapped = SimilarityOps.hybridLexArmBuild(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got !== uncapped)
  }

  test("unigram-LM fit matches a full plain-Scala Viterbi-EM recompute") {
    // c64 sanity first: within 2/64 bit of true log2 below the
    // normalization cutoff, 3/64 above (one truncated shift), and
    // monotone over a boundary-heavy sample
    val sample = (Seq(1L, 2L, 3L, 7L, (1L << 30) - 1, 1L << 30, (1L << 30) + 1,
      (1L << 45) - 1, 1L << 45, (1L << 52) + 12345) ++
      (1 to 200).map(i => 1L + i.toLong * i * i * 31)).sorted
    sample.foreach { v =>
      val err = math.abs(TextOps.c64(v) - 64.0 * math.log(v.toDouble) / math.log(2.0))
      assert(err <= (if (v < (1L << 31)) 2.0 else 3.0), s"c64($v) off by $err")
    }
    sample.zip(sample.tail).foreach { case (a, b) =>
      assert(TextOps.c64(a) <= TextOps.c64(b))
    }

    // full fit recompute from raw documents with plain collections
    val words = Tables.documents(spark, Sf0001).select("text").collect()
      .flatMap(_.getString(0).split("[^\\p{L}]+").filter(_.nonEmpty))
    val types: Map[String, Long] =
      words.groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    val seed = scala.collection.mutable.Map.empty[String, Long]
    types.foreach { case (w, f) =>
      for (i <- 0 until w.length; l <- 1 to math.min(3, w.length - i))
        seed.updateWith(w.substring(i, i + l))(c => Some(c.getOrElse(0L) + f))
    }
    val multi = seed.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(TextOps.UnigramSeedMulti)
    val chars = seed.filter(_._1.length == 1).toSeq
    val charSet = chars.map(_._1)
    def viterbi(word: String, cost: Map[String, Long]): List[String] = {
      val INF = 1L << 62
      val best = new Array[(Long, List[String])](word.length + 1)
      best(0) = (0L, Nil)
      for (j <- 1 to word.length) {
        var sel: (Long, List[String]) = null
        for (l <- 1 to math.min(3, j)) {
          val piece = word.substring(j - l, j)
          val q = cost.get(piece).map(_ + best(j - l)._1).getOrElse(INF)
          if (sel == null || q < sel._1) sel = (q, best(j - l)._2 :+ piece)
        }
        best(j) = sel
      }
      best(word.length)._2
    }
    var vocab: Seq[(String, Long)] = multi ++ chars
    var segs: Map[String, List[String]] = Map.empty
    for (_ <- 1 to TextOps.UnigramRounds) {
      val total = vocab.map(_._2).sum
      val cost = vocab.map { case (p, c) => p -> (TextOps.c64(total) - TextOps.c64(c)) }.toMap
      segs = types.keys.map(w => w -> viterbi(w, cost)).toMap
      val counts = scala.collection.mutable.Map.empty[String, Long]
      segs.foreach { case (w, ps) =>
        ps.foreach(p => counts.updateWith(p)(c => Some(c.getOrElse(0L) + types(w))))
      }
      vocab = charSet.map(c => (c, math.max(counts.getOrElse(c, 0L), 1L))) ++
        counts.filter(_._1.length >= 2).toSeq
    }
    val totalF = vocab.map(_._2).sum
    val expected = vocab.map { case (p, c) =>
      (p, p.length.toLong, c, TextOps.c64(totalF) - TextOps.c64(c))
    }.toSet
    val got = TextOps.unigramFitTable(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
    assert(got.nonEmpty && got.exists(_._2 >= 2), "no multi-char piece survived EM")

    // the segmentation artifact: pieces rebuild every word exactly,
    // and match the recomputed Viterbi paths
    val seg = TextOps.unigramArtifacts(spark, Sf0001)._2.collect()
      .map(r => (r.getString(0), r.getSeq[String](3).toList)).toMap
    assert(seg.keySet === types.keySet)
    seg.foreach { case (w, ps) =>
      assert(ps.mkString("") === w, s"pieces do not rebuild $w")
      assert(ps === segs(w), s"segmentation mismatch for $w")
    }
    // unigram genuinely compresses: fewer pieces than characters overall
    val nChars = types.map { case (w, f) => w.length * f }.sum
    val nPieces = types.map { case (w, f) => segs(w).length * f }.sum
    assert(nPieces < nChars)
  }

  test("dpo pairs: planted shared-prompt clones leak and the audit prices them exactly") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    def split(id: Long): String = {
      val b = (h60(id.toString) % 100).toInt
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    // brute recompute of every pair row over the planted corpus
    val base = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)
        .toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    val corpus = base ++ base.filter(_._1 % 17 == 0).map { case (id, t) =>
      val p = ((t.length + 1) / 2)
      (id + 5000000000L, t.take(p) ++ t.drop(p).map(_ + "x"))
    }
    val expected = corpus.map { case (id, t) =>
      val p = (t.length + 1) / 2
      val prompt = t.take(p).mkString(" ")
      val resp = t.drop(p)
      val chosen = s"<|user|> $prompt <|assistant|> ${resp.mkString(" ")}"
      val rejected = s"<|user|> $prompt <|assistant|> ${resp.reverse.mkString(" ")}"
      (id, t.length.toLong, p.toLong, resp.length.toLong, h60(prompt),
        h60(chosen), h60(rejected),
        if (resp.mkString(" ") == resp.reverse.mkString(" ")) 1L else 0L)
    }.toSet
    val got = TextOps.dpoPairs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
    assert(got === expected)
    // every planted clone shares its base's prompt fingerprint, and
    // every non-degenerate pair genuinely has two distinct branches
    val byId = expected.map(t => t._1 -> t._5).toMap
    val clones = base.filter(_._1 % 17 == 0).map(_._1)
    assert(clones.nonEmpty)
    clones.foreach(id => assert(byId(id) === byId(id + 5000000000L)))
    expected.filter(_._8 == 0L).foreach(t => assert(t._6 !== t._7))
    // the leakage matrix equals a brute pair count over fp groups
    val matrix = scala.collection.mutable.Map.empty[(String, String), Long]
    expected.toSeq.map(t => (t._1, t._5)).groupBy(_._2).values.foreach { g =>
      val ids = g.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        matrix.updateWith((split(ids(i)), split(ids(j))))(c => Some(c.getOrElse(0L) + 1L))
    }
    val gotM = TextOps.dpoLeakage(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(gotM === matrix.toMap)
    assert(gotM.values.sum >= clones.length.toLong, "planted leaks missing")

    // degenerate detection on constructed cases via the shared projection
    import spark.implicits._
    val synth = Seq((1L, "alpha beta"), (2L, "alpha beta gamma delta"),
      (3L, "aa bb cc cc"), (4L, "solo")).toDF("doc_id", "text")
    val proj = TextOps.dpoPairProjection(synth).collect()
      .map(r => r.getLong(0) -> (r.getLong(7), r.getLong(5), r.getLong(6))).toMap
    assert(proj(1L)._1 === 1L) // 1-token response: reversed == itself
    assert(proj(2L)._1 === 0L) // real pair
    assert(proj(2L)._2 !== proj(2L)._3)
    assert(proj(3L)._1 === 1L) // palindrome response order [cc, cc]
    assert(proj(4L)._1 === 1L) // empty response (p = n = 1)
  }

  test("round-8 additions are partition-invariant: parallelism 2 vs 16") {
    // the hybrid fusion's artifact joins + windows, the unigram EM's
    // type-table DP and M-step aggs, the DPO prompt-fp self-join, and
    // the pHash banding joins must not bake the partition count into
    // any value
    val names = Seq("hybrid_rrf_topk", "hybrid_recall", "unigram_fit",
      "unigram_encode", "unigram_vs_bpe", "dpo_pairs", "dpo_leakage",
      "mm_phash_pairs", "mm_phash_vs_ahash", "retrieval_mrr")
    def run(): Map[String, Set[String]] = names.map { n =>
      n -> SparkEntry.queries(n)(spark, Sf0001).collect().map(_.toString).toSet
    }.toMap
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val r2 = run()
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      val r16 = run()
      names.foreach(n => assert(r2(n) === r16(n), s"query $n partition-sensitive"))
      assert(r2.values.forall(_.nonEmpty))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("retrieval mrr: sheet matches a fold over the collected rankings") {
    val truth = SimilarityOps.bruteForceTopK(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nQ = truth.map(_._1).size.toLong
    def expect(list: Seq[(Long, Long, Long)]): (Long, Long, Long, Long) = {
      val rrByQ = list.filter(t => truth((t._1, t._2))).groupBy(_._1)
        .map { case (_, g) => 1000000L / g.map(_._3).min }
      (nQ, rrByQ.size.toLong, rrByQ.sum, rrByQ.sum / nQ)
    }
    def tri(df: org.apache.spark.sql.DataFrame, a: String, b: String, c: String) =
      df.select(a, b, c).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = Map(
      "ivf" -> expect(tri(SimilarityOps.ivfLabelTopK(spark, Sf0001),
        "query_id", "neighbor_id", "rnk")),
      "lsh" -> expect(tri(SimilarityOps.lshTopK(spark, Sf0001),
        "query_id", "neighbor_id", "rnk")),
      "lexical_arm" -> expect(tri(SimilarityOps.hybridLexArm(spark, Sf0001),
        "query_id", "doc_id", "lex_rank")),
      "hybrid_rrf" -> expect(tri(SimilarityOps.hybridRrfTopK(spark, Sf0001),
        "query_id", "doc_id", "rnk"))
    )
    val got = SimilarityOps.retrievalMrr(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got === expected)
    // MRR and recall order consistently on the exact-arm extremes:
    // the IVF/LSH lists rank a truth member first for every hit query
    assert(got.keySet === Set("ivf", "lsh", "lexical_arm", "hybrid_rrf"))
    got.values.foreach { case (n, hit, sum, mrr) =>
      assert(hit <= n && sum <= hit * 1000000L && mrr === sum / n)
    }
  }

  test("dct phash: BigInt recompute, exact brightness identity, gradient twins ahash misses") {
    import graft.functions.PhashKernel
    // the quantized DCT table's AC rows cancel EXACTLY — the integer
    // identity behind brightness invariance (a constant pixel shift
    // moves only the DC coefficient)
    (1 until 8).foreach(k => assert(PhashKernel.Cos(k).sum === 0L, s"row $k"))
    assert(PhashKernel.Cos(0).forall(_ === PhashKernel.Scale))

    def pixelsOf(t: String): Option[(Array[Long], Long)] = {
      val cps = t.codePoints().toArray
      val w = cps.length / 64
      if (w < 1) None
      else Some((Array.tabulate(64)(k =>
        (0 until w).map(j => cps(k * w + j).toLong).sum), w.toLong))
    }
    def phashRef(t: String): Option[String] = pixelsOf(t).map { case (px, w) =>
      // overflow-free BigInt recompute of the kernel's long arithmetic
      val q = px.map(p => BigInt(p / w))
      val d = Array.tabulate(64) { uv =>
        val (u, v) = (uv / 8, uv % 8)
        (0 until 64).map(p =>
          q(p) * PhashKernel.Cos(u)(p / 8) * PhashKernel.Cos(v)(p % 8)).sum
      }
      val sac = d.drop(1).sum
      d.map(x => if (63 * x > sac) '1' else '0').mkString
    }
    def ham(a: String, b: String): Int = a.zip(b).count(p => p._1 != p._2)

    val baseDocs = Tables.documents(spark, Sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // kernel == BigInt reference on every real payload (also proves no
    // long overflow at real pixel magnitudes)
    import spark.implicits._
    val gotFp = graft.sources.MultimodalOps
      .phashOf(baseDocs.toSeq.toDF("media_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val refFp = baseDocs.flatMap { case (id, t) => phashRef(t).map(id -> _) }.toMap
    assert(gotFp === refFp)
    assert(gotFp.nonEmpty)

    // exact brightness identity: a constant +5 codepoint shift changes
    // AT MOST the DC bit, and never any AC bit
    val shifted = baseDocs.map { case (id, t) => (id, t.map(c => (c + 5).toChar).mkString) }
    val shiftFp = graft.sources.MultimodalOps
      .phashOf(shifted.toSeq.toDF("media_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    gotFp.foreach { case (id, fp) =>
      assert(fp.substring(1) === shiftFp(id).substring(1), s"AC bits moved for $id")
    }

    // the planted gradient twins: pHash catches what aHash misses
    val corpus = graft.sources.MultimodalOps.phashDocs(spark, Sf0001).localCheckpoint()
    val ph = graft.sources.MultimodalOps.phashOf(corpus).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ah = graft.sources.MultimodalOps.aHashOf(corpus).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val twinIds = ph.keys.filter(_ >= 6000000000L).map(_ - 6000000000L).toSeq.sorted
    assert(twinIds.nonEmpty)
    val hams = twinIds.map(id =>
      (ham(ah(id), ah(id + 6000000000L)), ham(ph(id), ph(id + 6000000000L))))
    val t = graft.sources.MultimodalOps.AHashHammingMax
    // provable miss: at least one twin aHash rejects but pHash accepts
    assert(hams.exists { case (a, p) => a > t && p <= t },
      s"no ahash-miss/phash-catch twin: $hams")
    // and in aggregate the DCT hash dominates on the gradient class
    assert(hams.count(_._2 <= t) > hams.count(_._1 <= t))
    assert(hams.map(_._2).sum < hams.map(_._1).sum)
  }

  test("kneser-ney bigram LM matches an exact rational recompute") {
    // the c64_log2 codegen expression is the kernel, distributed
    import spark.implicits._
    val vs = Seq(1L, 2L, 3L, 1023L, 1024L, (1L << 50) - 7, 1L << 50)
    val exprGot = vs.toDF("v")
      .selectExpr("v", "c64_log2(v) AS c")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vs.foreach(v => assert(exprGot(v) === TextOps.c64(v)))

    // brute model in exact BigInt rationals from the raw corpus
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    val docBgs = docs.map { case (id, src, t) =>
      (id, src, t.zip(t.drop(1)).map { case (a, b) => s"$a $b" })
    }
    val counts = docBgs.flatMap(_._3).groupBy(identity)
      .map { case (bg, o) => bg -> o.length.toLong }
    val tTypes = counts.size.toLong
    assert(tTypes > 0)
    val byHead = counts.groupBy(_._1.split(" ")(0))
    val cH = byHead.map { case (h, g) => h -> g.values.sum }
    val n1pH = byHead.map { case (h, g) => h -> g.size.toLong }
    val contW = counts.groupBy(_._1.split(" ")(1)).map { case (w, g) => w -> g.size.toLong }
    def qp(bg: String): Long = {
      val Array(h, w) = bg.split(" ")
      val num = (BigInt(4) * counts(bg) - 3) * tTypes + BigInt(3) * n1pH(h) * contW(w)
      val den = BigInt(4) * cH(h) * tTypes
      ((num << TextOps.KnQpShift) / den).toLong
    }
    def nll(bg: String): Long = 64L * TextOps.KnQpShift - TextOps.c64(qp(bg))

    // smoothing identity, exact: for every head the seen discounted
    // mass plus the FULL backoff mass is 1 (sum over all vocab w of
    // cont_w is t_types, so the numerators sum to the denominator)
    byHead.foreach { case (h, g) =>
      val seenNum = g.keys.toSeq.map(bg => (BigInt(4) * counts(bg) - 3) * tTypes).sum
      val backoffNumAllW = BigInt(3) * n1pH(h) * tTypes
      assert(seenNum + backoffNumAllW === BigInt(4) * cH(h) * tTypes, s"mass != 1 for head $h")
    }

    // kn_bigram_fit == the top-25 by quantized probability
    val fitExp = counts.keys.toSeq
      .map { bg =>
        val Array(h, w) = bg.split(" ")
        (h, w, counts(bg), cH(h), n1pH(h), contW(w), qp(bg), nll(bg))
      }
      .sortBy { case (h, w, _, _, _, _, q, _) => (-q, h, w) }
      .take(25)
    val fitGot = TextOps.knBigramFit(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(fitGot === fitExp)

    // kn_doc_ppl == per-doc fold; zero-bigram docs surface with zeros
    val pplExp = docBgs.map { case (id, src, bgs) =>
      val s = bgs.map(nll).sum
      (id, src, bgs.length.toLong, s, if (bgs.nonEmpty) s / bgs.length else 0L)
    }.toSet
    val pplGot = TextOps.knDocPpl(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(pplGot === pplExp)
    // every nll is positive (p < 1 strictly after quantization) and the
    // model's worst transition scores worse than its best
    assert(pplExp.filter(_._3 > 0).forall(_._4 > 0))

    // (ppl_bucket_split moved to the trigram spec when round 9
    // re-pointed it at the kn3 score)
  }

  test("kneser-ney trigram LM matches an exact rational recompute with backoff mass identities") {
    // brute trigram model in exact BigInt rationals from the raw
    // corpus, including the continuation-count backoff chain and the
    // two-stage quantization (qp2 floor first, then qp3 composing it)
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    val docTgs = docs.map { case (id, src, t) =>
      (id, src,
        (0 until math.max(t.length - 2, 0)).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}"))
    }
    val counts = docTgs.flatMap(_._3).groupBy(identity)
      .map { case (tg, o) => tg -> o.length.toLong }
    assert(counts.nonEmpty)
    def parts(tg: String) = { val a = tg.split(" "); (a(0), a(1), a(2)) }
    val byUv = counts.groupBy { case (tg, _) => val p = parts(tg); (p._1, p._2) }
    val cUv = byUv.map { case (k, g) => k -> g.values.sum }
    val n1pUv = byUv.map { case (k, g) => k -> g.size.toLong }
    // continuation table: rows of the trigram TYPE table grouped by
    // (v,w) — group size IS the distinct-predecessor count N1+(·vw)
    val cb = counts.keys.toSeq.map(parts).groupBy(p => (p._2, p._3))
      .map { case (k, g) => k -> g.size.toLong }
    val cbByV = cb.groupBy(_._1._1)
    val n1midV = cbByV.map { case (v, g) => v -> g.values.sum }
    val n1p2V = cbByV.map { case (v, g) => v -> g.size.toLong }
    val cont2W = cb.groupBy(_._1._2).map { case (w, g) => w -> g.size.toLong }
    val t2 = cb.size.toLong

    // mass identities per level, exact rationals BEFORE quantization:
    // level 1: Σ_vocab N1+(··w) = T2 — p1 is a distribution
    assert(cont2W.values.sum === t2)
    // level 2, per middle v: Σ_seen (4·N1+(·vw)−3)·T2 + 3·N1+(v·)·T2
    // = 4·N1+(·v·)·T2, i.e. Σ_w∈vocab p2(w|v) = 1 over the common
    // denominator (Σ_vocab cont2_w = T2 supplies the backoff mass)
    cbByV.foreach { case (v, g) =>
      val seenNum = g.keys.toSeq.map(k => (BigInt(4) * cb(k) - 3) * t2).sum
      assert(seenNum + BigInt(3) * n1p2V(v) * t2 === BigInt(4) * n1midV(v) * t2,
        s"p2 mass != 1 for middle '$v'")
    }
    // level 3, per history (u,v): Σ_seen (4·c(uvw)−3) + 3·N1+(uv·)
    // = 4·c(uv) — with Σ_w p2(w|v) = 1 this is Σ_w p3(w|u,v) = 1
    byUv.foreach { case (k, g) =>
      val seenNum = g.keys.toSeq.map(tg => BigInt(4) * counts(tg) - 3).sum
      assert(seenNum + BigInt(3) * n1pUv(k) === BigInt(4) * cUv(k),
        s"p3 mass != 1 for history $k")
    }

    def qp2(v: String, w: String): Long = {
      val num = (BigInt(4) * cb((v, w)) - 3) * t2 + BigInt(3) * n1p2V(v) * cont2W(w)
      ((num << TextOps.KnQpShift) / (BigInt(4) * n1midV(v) * t2)).toLong
    }
    def qp3(tg: String): Long = {
      val (u, v, w) = parts(tg)
      val num = (BigInt(4) * counts(tg) - 3) * (BigInt(1) << TextOps.KnQpShift) +
        BigInt(3) * n1pUv((u, v)) * qp2(v, w)
      (num / (BigInt(4) * cUv((u, v)))).toLong
    }
    def nll(tg: String): Long = 64L * TextOps.KnQpShift - TextOps.c64(qp3(tg))
    // every quantized p3 is a strict probability: 1 <= qp3 <= 2^50
    counts.keys.foreach { tg =>
      assert(qp3(tg) >= 1L && qp3(tg) <= (1L << TextOps.KnQpShift), s"qp3 domain: $tg")
    }

    // kn3_trigram_fit == the top-25 by quantized probability
    val fitExp = counts.keys.toSeq
      .map { tg =>
        val (u, v, w) = parts(tg)
        (u, v, w, counts(tg), cUv((u, v)), n1pUv((u, v)), cb((v, w)),
          n1midV(v), n1p2V(v), cont2W(w), qp2(v, w), qp3(tg), nll(tg))
      }
      .sortBy { case (u, v, w, _, _, _, _, _, _, _, _, q3, _) => (-q3, u, v, w) }
      .take(25)
    val fitGot = TextOps.kn3TrigramFit(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getLong(9), r.getLong(10), r.getLong(11), r.getLong(12))).toSeq
    assert(fitGot === fitExp)

    // kn3_doc_ppl == per-doc fold; <3-token docs surface with zeros
    val pplExp = docTgs.map { case (id, src, tgs) =>
      val s = tgs.map(nll).sum
      (id, src, tgs.length.toLong, s, if (tgs.nonEmpty) s / tgs.length else 0L)
    }.toSet
    val pplGot = TextOps.kn3DocPpl(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(pplGot === pplExp)
    assert(pplExp.filter(_._3 > 0).forall(_._4 > 0))

  }

  test("order-N kneser-ney (4- and 5-gram) matches an exact BigInt ladder recompute " +
    "with per-level mass identities") {
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    def sfxK(g: String, k: Int) = g.split(" ").takeRight(k).mkString(" ")
    def hist(g: String, k: Int) = g.split(" ").take(k - 1).mkString(" ")
    def lastW(g: String) = g.split(" ").last

    // exact BigInt ladder for order n: returns (qp map at level n,
    // (cnt, tot, n1p) maps at level n, per-doc gram lists)
    def ladder(n: Int) = {
      val docGs = docs.map { case (id, src, t) =>
        (id, src,
          (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" ")))
      }
      val cN = docGs.flatMap(_._3).groupBy(identity)
        .map { case (g, o) => g -> o.length.toLong }
      assert(cN.nonEmpty, s"no $n-grams at sf0.001")
      var aTab = Map(n -> cN)
      for (k <- (n - 1) to 2 by -1)
        aTab += k -> aTab(k + 1).keys.toSeq.map(sfxK(_, k)).groupBy(identity)
          .map { case (g, o) => g -> o.length.toLong }
      def tots(k: Int) = aTab(k).groupBy { case (g, _) => hist(g, k) }
        .map { case (h, m) => h -> m.values.sum }
      def n1ps(k: Int) = aTab(k).groupBy { case (g, _) => hist(g, k) }
        .map { case (h, m) => h -> m.size.toLong }
      val t1 = aTab(2).size.toLong
      val contW = aTab(2).keys.toSeq.map(lastW).groupBy(identity)
        .map { case (w, o) => w -> o.length.toLong }
      // level-1 mass: Σ_w A_1(w) = T_1
      assert(contW.values.sum === t1)
      // per-level mass identities: Σ_seen (4·A_k − 3) = 4·tot_k − 3·N1p_k
      for (k <- 2 to n) {
        val (tk, nk) = (tots(k), n1ps(k))
        aTab(k).groupBy { case (g, _) => hist(g, k) }.foreach { case (h, m) =>
          val seen = m.values.map(c => BigInt(4) * c - 3).sum
          assert(seen === BigInt(4) * tk(h) - BigInt(3) * nk(h),
            s"p$k mass != 1 for history '$h' (n=$n)")
        }
      }
      val (tot2, n1p2) = (tots(2), n1ps(2))
      val qp2 = aTab(2).map { case (g, c) =>
        val h = hist(g, 2)
        g -> ((((BigInt(4) * c - 3) * t1 + BigInt(3) * n1p2(h) * contW(lastW(g)))
          << TextOps.KnQpShift) / (BigInt(4) * tot2(h) * t1)).toLong
      }
      val qpN = (3 to n).foldLeft(qp2) { (prev, k) =>
        val (tk, nk) = (tots(k), n1ps(k))
        aTab(k).map { case (g, c) =>
          val h = hist(g, k)
          g -> ((((BigInt(4) * c - 3) << TextOps.KnQpShift) +
            BigInt(3) * nk(h) * prev(sfxK(g, k - 1))) / (BigInt(4) * tk(h))).toLong
        }
      }
      qpN.foreach { case (g, q) =>
        assert(q >= 1L && q <= (1L << TextOps.KnQpShift), s"qp$n domain: $g")
      }
      (qpN, cN, tots(n), n1ps(n), docGs)
    }

    // order 5: fit readout == top-25 of the recomputed ladder
    val (qp5, c5, tot5, n1p5, docG5) = ladder(5)
    def nll5(g: String) = 64L * TextOps.KnQpShift - TextOps.c64(qp5(g))
    val fitExp = c5.keys.toSeq
      .map(g => (g, c5(g), tot5(hist(g, 5)), n1p5(hist(g, 5)), qp5(g), nll5(g)))
      .sortBy { case (g, _, _, _, q, _) => (-q, g) }
      .take(25)
    val fitGot = TextOps.kn5Fit(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(fitGot === fitExp)

    // per-doc sheets at orders 4 and 5 == exact folds; <n-token docs
    // surface with zeros
    def pplExpOf(docGs: Seq[(Long, String, Seq[String])], nll: String => Long) =
      docGs.map { case (id, src, gs) =>
        val sum = gs.map(nll).sum
        (id, src, gs.length.toLong, sum, if (gs.nonEmpty) sum / gs.length else 0L)
      }.toSet
    val ppl5Exp = pplExpOf(docG5, nll5)
    val ppl5Got = TextOps.kn5DocPpl(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(ppl5Got === ppl5Exp)

    val (qp4, _, _, _, docG4) = ladder(4)
    def nll4(g: String) = 64L * TextOps.KnQpShift - TextOps.c64(qp4(g))
    val ppl4Got = TextOps.kn4DocPpl(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(ppl4Got === pplExpOf(docG4, nll4))

    // kn_order_curve == the fold of the four per-doc sheets over the
    // order-5-scorable docs (orders 2/3 sheets proven by their own
    // recompute specs)
    def sheet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(4))).toMap
    val s2 = sheet(TextOps.knDocPpl(spark, Sf0001))
    val s3 = sheet(TextOps.kn3DocPpl(spark, Sf0001))
    val s4 = sheet(TextOps.kn4DocPpl(spark, Sf0001))
    val s5 = sheet(TextOps.kn5DocPpl(spark, Sf0001))
    val scorable = s5.filter(_._2._2 > 0L).keys.toSeq
    val curveExp = scorable.groupBy(id => s5(id)._1).flatMap { case (src, ids) =>
      val n = ids.length.toLong
      val means = Seq(2L -> s2, 3L -> s3, 4L -> s4, 5L -> s5)
        .map { case (o, sh) => o -> ids.map(sh(_)._3).sum / n }
      means.map { case (o, m) =>
        val gain = means.toMap.get(o - 1).map(_ - m).getOrElse(0L)
        (src, o, n, m, gain)
      }
    }.toSet
    val curveGot = TextOps.knOrderCurve(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(curveGot === curveExp)
    // longer context never hurts on average here: the curve is
    // monotone non-increasing in order for every source
    curveExp.groupBy(_._1).foreach { case (src, rows) =>
      val m = rows.map(t => t._2 -> t._4).toMap
      assert(m(2) >= m(3) && m(3) >= m(4) && m(4) >= m(5), s"curve not monotone for $src")
    }

    // ppl_bucket_split (round-10 re-pointed at the 5-gram score) ==
    // an ntile(3) fold over the order-5 per-doc frame
    val bucketExp = ppl5Exp.toSeq.groupBy(_._2).flatMap { case (src, g) =>
      val sorted = g.sortBy(t => (t._5, t._1))
      val n = sorted.length
      val base = n / 3
      val rem = n % 3
      val tiles = (1 to 3).flatMap(b => Seq.fill(base + (if (b <= rem) 1 else 0))(b))
      sorted.zip(tiles).groupBy(_._2).map { case (b, rows) =>
        val label = b match { case 1 => "head"; case 2 => "middle"; case _ => "tail" }
        (src, label, rows.length.toLong, rows.map(_._1._5).sum,
          rows.map(_._1._5).sum / rows.length, rows.map(_._1._3).sum)
      }
    }.toSet
    val bucketGot = TextOps.pplBucketSplit(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(bucketGot === bucketExp)
    // CCNet readout sanity: within each source the head bucket's mean
    // log-perplexity does not exceed the tail bucket's
    bucketExp.groupBy(_._1).foreach { case (src, rows) =>
      val m = rows.map(t => t._2 -> t._5).toMap
      assert(m("head") <= m("tail"), s"head > tail for $src")
    }
  }

  test("count-pruned order-5 KN: survivors, exact renormalized backoff weights, " +
    "and longest-suffix scoring match a BigInt recompute (backoff misses exercised)") {
    val theta = TextOps.KnPruneDefaultThreshold
    val one = BigInt(1) << TextOps.KnQpShift
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    def sfxK(g: String, k: Int) = g.split(" ").takeRight(k).mkString(" ")
    def hist(g: String, k: Int) = g.split(" ").take(k - 1).mkString(" ")
    def lastW(g: String) = g.split(" ").last

    // full ladder at order 5, keeping EVERY level's qp (the recompute
    // twin of TextOps.knNLevels)
    val docG5 = docs.map { case (id, src, t) =>
      (id, src, (0 to t.length - 5).map(i => t.slice(i, i + 5).mkString(" ")))
    }
    val c5 = docG5.flatMap(_._3).groupBy(identity)
      .map { case (g, o) => g -> o.length.toLong }
    var aTab = Map(5 -> c5)
    for (k <- 4 to 2 by -1)
      aTab += k -> aTab(k + 1).keys.toSeq.map(sfxK(_, k)).groupBy(identity)
        .map { case (g, o) => g -> o.length.toLong }
    def tots(k: Int) = aTab(k).groupBy { case (g, _) => hist(g, k) }
      .map { case (h, m) => h -> m.values.sum }
    def n1ps(k: Int) = aTab(k).groupBy { case (g, _) => hist(g, k) }
      .map { case (h, m) => h -> m.size.toLong }
    val t1 = aTab(2).size.toLong
    val contW = aTab(2).keys.toSeq.map(lastW).groupBy(identity)
      .map { case (w, o) => w -> o.length.toLong }
    val (tot2, n1p2) = (tots(2), n1ps(2))
    val qp2 = aTab(2).map { case (g, c) =>
      val h = hist(g, 2)
      g -> ((((BigInt(4) * c - 3) * t1 + BigInt(3) * n1p2(h) * contW(lastW(g)))
        << TextOps.KnQpShift) / (BigInt(4) * tot2(h) * t1)).toLong
    }
    var qps = Map(2 -> qp2)
    for (k <- 3 to 5) {
      val (tk, nk) = (tots(k), n1ps(k))
      qps += k -> aTab(k).map { case (g, c) =>
        val h = hist(g, k)
        g -> ((((BigInt(4) * c - 3) << TextOps.KnQpShift) +
          BigInt(3) * nk(h) * qps(k - 1)(sfxK(g, k - 1))) / (BigInt(4) * tk(h))).toLong
      }
    }

    // survivors and renormalized backoffs
    val surv = (3 to 5).map(k => k -> aTab(k).filter(_._2 > theta)).toMap
    val gamma = (3 to 5).map { k =>
      k -> surv(k).keys.toSeq.groupBy(hist(_, k)).map { case (h, gs) =>
        val sHi = gs.map(g => BigInt(qps(k)(g))).sum
        val sLo = gs.map(g => BigInt(qps(k - 1)(sfxK(g, k - 1)))).sum
        assert(sHi < one && sLo < one, s"survivor mass >= 1 for '$h' at level $k")
        h -> ((one - sHi) * one / (one - sLo).max(BigInt(1))).toLong
      }
    }.toMap
    // pruning must bite at sf0.001 (most 5-grams are singletons) and
    // must leave histories with NO survivors unstored at level 5
    assert(surv(5).size < aTab(5).size / 2, "singleton pruning did not bite")
    assert(gamma(5).size < n1ps(5).size, "every level-5 history has survivors?!")

    // artifact == recompute (prob rows per level, backoff rows per level)
    val art = TextOps.kn5PrunedArtifact(spark, Sf0001).collect()
    val probGot = art.filter(_.getString(0) == "prob")
      .map(r => (r.getInt(1), r.getString(2), r.getLong(4), r.getLong(5))).toSet
    val probExp =
      (aTab(2).map { case (g, c) => (2, g, c, qp2(g)) } ++
        (3 to 5).flatMap(k => surv(k).map { case (g, c) => (k, g, c, qps(k)(g)) })).toSet
    assert(probGot === probExp)
    val backGot = art.filter(_.getString(0) == "backoff")
      .map(r => (r.getInt(1), r.getString(2), r.getLong(5))).toSet
    val backExp = (3 to 5).flatMap(k =>
      gamma(k).map { case (h, q) => (k, h, q) }).toSet
    assert(backGot === backExp)

    // stats sheet == the level counts
    val statsGot = TextOps.kn5PrunedStats(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val statsExp = (2 to 5).map { k =>
      val full = aTab(k).size.toLong
      val kept = if (k == 2) full else surv(k).size.toLong
      val backs = if (k == 2) 0L else gamma(k).size.toLong
      (k.toLong, full, kept, kept * 1000000L / full, backs)
    }.toSet
    assert(statsGot === statsExp)

    // longest-suffix scoring with innermost-first floor composition;
    // count the fallback levels and implicit gamma'=1 lookups actually hit
    val levelHits = scala.collection.mutable.Map(5 -> 0L, 4 -> 0L, 3 -> 0L, 2 -> 0L)
    var implicitGamma = 0L
    def score(g: String): (Long, Long) = {
      val ctx = g.split(" ").take(4)
      def hK(k: Int) = ctx.takeRight(k - 1).mkString(" ")
      val m =
        if (surv(5).contains(g)) 5
        else if (surv(4).contains(sfxK(g, 4))) 4
        else if (surv(3).contains(sfxK(g, 3))) 3
        else 2
      levelHits(m) += 1L
      var acc = BigInt(qps(m)(sfxK(g, m)))
      for (k <- (m + 1) to 5) {
        val gk = gamma(k).get(hK(k))
        if (gk.isEmpty) implicitGamma += 1L
        acc = BigInt(gk.getOrElse(one.toLong)) * acc / one
      }
      val qfin = acc.max(BigInt(1)).toLong
      (64L * TextOps.KnQpShift - TextOps.c64(qfin), if (m < 5) 1L else 0L)
    }
    val pplExp = docG5.map { case (id, src, gs) =>
      val scored = gs.map(score)
      val sum = scored.map(_._1).sum
      (id, src, gs.length.toLong, scored.map(_._2).sum, sum,
        if (gs.nonEmpty) sum / gs.length else 0L)
    }.toSet
    val pplGot = TextOps.kn5PrunedDocPpl(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(pplGot === pplExp)
    // the real KenLM behaviors are exercised, not just defined: grams
    // fell back at every level below the top AND some history lookup
    // took the exact gamma'=1 identity (unstored fully-pruned history)
    assert(levelHits(4) > 0L && levelHits(3) > 0L && levelHits(2) > 0L,
      s"fallback levels not all exercised: $levelHits")
    assert(implicitGamma > 0L, "no scoring path exercised the unstored-history identity")

    // fit readout == top-25 survivors
    val fitExp = surv(5).toSeq.map { case (g, c) => (g, c, qps(5)(g)) }
      .sortBy { case (g, _, q) => (-q, g) }.take(25)
    val fitGot = TextOps.kn5PrunedFit(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fitGot === fitExp)
  }

  test("canonicalization stage: application, pricing sheet, dedup gain and manifest " +
    "bit 8 match a plain-Scala recompute of the map over the cleaned corpus") {
    val rmap = TextOps.typoRewrite(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(rmap.nonEmpty, "empty rewrite map")
    val clean = TextOps.cleanPipeline(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // split(" ", -1): Spark's split keeps trailing empty strings
    def words(t: String) = t.split(" ", -1).toSeq
    val exp = clean.map { case (id, nb, np, ns, text) =>
      val ws = words(text)
      val canon = ws.map(w => rmap.getOrElse(w.toLowerCase, w)).mkString(" ")
      val nRw = ws.count(w => rmap.contains(w.toLowerCase))
      (id, nb, np, ns, nRw.toLong, ws.length.toLong, text, canon)
    }
    assert(exp.map(_._5).sum > 0L, "canonicalization is vacuous at sf0.001")
    val got = TextOps.canonicalizedClean(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6), r.getString(7)))
    assert(got.toSet === exp.toSet)

    // per-source pricing sheet
    val srcOf = Tables.documents(spark, Sf0001).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sheetExp = exp.groupBy(t => srcOf(t._1)).map { case (src, rows) =>
      val nt = rows.map(_._6).sum
      val nr = rows.map(_._5).sum
      (src, rows.length.toLong, nt, nr, nr * 1000000L / nt)
    }.toSet
    val sheetGot = TextOps.cleanTypoRewrite(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(sheetGot === sheetExp)

    // marginal dedup gain: canonicalization can only merge fingerprints
    def dupStats(texts: Seq[String]) = {
      val n = texts.length.toLong
      val d = texts.distinct.length.toLong
      (n, d, n - d, (n - d) * 1000000L / n)
    }
    val (cn, cd, cdup, cppm) = dupStats(exp.map(_._7))
    val (an, ad, adup, appm) = dupStats(exp.map(_._8))
    val gainExp = Set(
      ("cleaned", cn, cd, cdup, cppm),
      ("canonicalized", an, ad, adup, appm))
    val gainGot = TextOps.typoRewriteGain(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(gainGot === gainExp)
    assert(ad <= cd, "canonicalization split a fingerprint class?!")

    // manifest: bit 8 set exactly for docs with >= 1 rewritten token
    val maskExp = exp.map { t =>
      t._1 -> ((if (t._2 > 0) 1L else 0L) + (if (t._3 > 0) 2L else 0L) +
        (if (t._4 > 0) 4L else 0L) + (if (t._5 > 0) 8L else 0L))
    }.toMap
    val manifest = TextOps.cleanManifest(spark, Sf0001).collect()
    manifest.foreach { r =>
      assert(r.getLong(1) === maskExp(r.getLong(0)),
        s"mask mismatch for doc ${r.getLong(0)}")
    }
    assert(manifest.exists(r => (r.getLong(1) & 8L) > 0L), "no doc carries bit 8")
  }

  test("seq_packing_bpe matches a plain-Scala replay of the learned merges over " +
    "per-doc token streams, and prices differently from the whitespace proxy") {
    // replay the fit's encoding exactly: per word type, the spaced
    // char sequence with each learned merge applied via the same
    // 3-pass String.replace contract, in rank order
    val merges = SparkEntry.queries("bpe_train")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    def encode(word: String): Long = {
      var seq = " " + word.toCharArray.mkString(" ") + " "
      merges.foreach { case (_, a, b) =>
        val from = s" $a $b "
        val to = s" $a$b "
        seq = seq.replace(from, to).replace(from, to).replace(from, to)
      }
      seq.trim.split(" ").length.toLong
    }
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    val nSyms = scala.collection.mutable.Map.empty[String, Long]
    val perDoc = docs.map { case (id, src, ws) =>
      (id, src, ws.map(w => nSyms.getOrElseUpdate(w, encode(w))).sum)
    }
    // per-source running sum in doc_id order -> bins -> sheet
    val sheetExp = perDoc.groupBy(_._2).flatMap { case (src, rows) =>
      val sorted = rows.sortBy(_._1)
      val cums = sorted.map(_._3).scanLeft(0L)(_ + _)
      sorted.zip(cums).map { case ((id, _, n), cumBefore) =>
        (src, cumBefore / TextOps.PackBudget, id, n)
      }.groupBy(t => (t._1, t._2)).map { case ((s2, bin), g) =>
        val toks = g.map(_._4).sum
        (s2, bin, g.length.toLong, toks, g.map(_._3).min, g.map(_._3).max,
          toks > TextOps.PackBudget)
      }
    }.toSet
    val sheetGot = TextOps.seqPackingBpe(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toSet
    assert(sheetGot === sheetExp)
    // the sheet must PRICE differently from the whitespace proxy
    // (otherwise re-pointing bought nothing): total BPE tokens differ
    // from total proxy tokens
    val bpeTotal = sheetExp.toSeq.map(_._4).sum
    val proxyTotal = TextOps.seqPacking(spark, Sf0001).collect().map(_.getLong(3)).sum
    assert(bpeTotal !== proxyTotal, "BPE pricing identical to whitespace proxy?!")
    assert(bpeTotal > 0L)
  }

  test("wordpiece fit/encode/bakeoff match a plain-Scala likelihood-merge recompute") {
    // reference fit: ##-marked init, 6 rounds of argmax over
    // cnt·10^12 // (cnt_a·cnt_b) with (score DESC, cnt DESC, pair ASC)
    val words = Tables.documents(spark, Sf0001).select("text").collect()
      .flatMap(_.getString(0).split("[^\\p{L}]+").filter(_.nonEmpty))
    val types = scala.collection.mutable.Map.empty[String, Long]
    words.foreach(w => types.updateWith(w)(c => Some(c.getOrElse(0L) + 1L)))
    def initSeq(w: String): String =
      " " + w.head + (if (w.length > 1) " " + w.tail.map(c => s"##$c").mkString(" ") else "") + " "
    var seqs: Map[String, String] = types.keys.map(w => w -> initSeq(w)).toMap
    val expMerges = Seq.newBuilder[(Long, String, String, String, Long, Long, Long, Long)]
    for (k <- 1 to TextOps.WordPieceMerges) {
      val symCnt = scala.collection.mutable.Map.empty[String, Long]
      val pairCnt = scala.collection.mutable.Map.empty[String, Long]
      seqs.foreach { case (w, s) =>
        val f = types(w)
        val syms = s.trim.split(" ")
        syms.foreach(y => symCnt.updateWith(y)(c => Some(c.getOrElse(0L) + f)))
        syms.zip(syms.drop(1)).foreach { case (a, b) =>
          pairCnt.updateWith(s"$a $b")(c => Some(c.getOrElse(0L) + f))
        }
      }
      val scored = pairCnt.toSeq.map { case (p, c) =>
        val Array(a, b) = p.split(" ", 2)
        val sc = (BigInt(c) * BigInt(10).pow(12) / (BigInt(symCnt(a)) * symCnt(b))).toLong
        (p, c, symCnt(a), symCnt(b), sc)
      }
      val (pair, cnt, ca, cb, sc) = scored
        .sortBy { case (p, c, _, _, s) => (-s, -c, p) }
        .map(t => (t._1, t._2, t._3, t._4, t._5)).head
      val Array(a, b) = pair.split(" ", 2)
      val merged = a + b.stripPrefix("##")
      expMerges += ((k.toLong, a, b, merged, cnt, ca, cb, sc))
      seqs = seqs.view.mapValues { s =>
        var r = s
        (1 to 3).foreach(_ => r = r.replace(s" $pair ", s" $merged "))
        r
      }.toMap
    }
    val exp = expMerges.result()
    val got = TextOps.wordpieceFitTable(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .sortBy(_._1).toSeq
    assert(got === exp)
    assert(got.size === TextOps.WordPieceMerges)
    // the ## convention holds end-to-end: every final piece either
    // starts the word (no mark) or carries the mark, and stripping
    // marks rebuilds the word exactly
    seqs.foreach { case (w, s) =>
      val ps = s.trim.split(" ")
      assert(!ps.head.startsWith("##") || w.startsWith("##"), s"initial piece marked for $w")
      ps.drop(1).foreach(p => assert(p.startsWith("##"), s"unmarked continuation in $w: $p"))
      assert((ps.head + ps.drop(1).map(_.stripPrefix("##")).mkString).mkString === w)
    }

    // encode == occurrence-weighted fold over the reference seqs
    val docs = Tables.documents(spark, Sf0001).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    val encExp = docs.groupBy(_._1).map { case (src, g) =>
      val occ = g.flatMap(_._2)
      val nSyms = seqs.view.mapValues(_.trim.split(" ").length.toLong).toMap
      val letters = occ.map(_.length.toLong).sum
      val toks = occ.map(w => nSyms(w)).sum
      (src, occ.size.toLong, occ.distinct.size.toLong, letters, toks,
        (BigInt(toks) * 1000000 / letters).toLong)
    }.toSet
    val encGot = TextOps.wordpieceEncode(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(encGot === encExp)

    // bakeoff: the wordpiece row equals the same reference totals and
    // the bpe/unigram rows are exactly the unigramVsBpe sheet
    val nLetters = types.map { case (w, f) => w.length * f }.sum
    val nTokens = types.map { case (w, f) => seqs(w).trim.split(" ").length * f }.sum
    val nVocab = seqs.values.flatMap(_.trim.split(" ")).toSet.size.toLong
    val bak = TextOps.tokenizerBakeoff(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(bak("wordpiece") ===
      ((nVocab, nLetters, nTokens, (BigInt(nTokens) * 1000000 / nLetters).toLong)))
    val uvb = TextOps.unigramVsBpe(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(bak.view.filterKeys(_ != "wordpiece").toMap === uvb)
    assert(bak.keySet === Set("bpe", "unigram", "wordpiece"))
  }

  test("bradley-terry source ratings match an exact BigInt MM recompute") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    def score(text: String): Long =
      text.split("[^\\p{L}]+").filter(_.nonEmpty)
        .map(t => h60(t) % 2001L - 1000L).sum
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), score(r.getString(2))))
    // the bucket-count formula: collapses to the 8 floor at both test
    // corpus sizes, scales ~n/4096 past the floor (the round-9 fix for
    // the fixed-8-task matchmaking sort ceiling)
    assert(TextOps.btBuckets(500) === 8L)
    assert(TextOps.btBuckets(5000) === 8L)
    assert(TextOps.btBuckets(8L * 4096) === 8L)
    assert(TextOps.btBuckets(8L * 4096 + 1) === 9L)
    assert(TextOps.btBuckets(1000000000L) === 244141L)
    // duels: bucket by fp % btBuckets(n), rank by (fp, id), pair adjacent
    def jvmDuels(buckets: Long): Seq[(String, String)] = docs
      .map { case (id, src, sc) => (h60(id.toString), id, src, sc) }
      .groupBy(_._1 % buckets)
      .values.flatMap { g =>
        g.toSeq.sortBy(t => (t._1, t._2)).grouped(2).filter(_.size == 2).map { p =>
          val Seq(x, y) = p.sortBy(t => (-t._4, t._2))
          (x._3, y._3) // winner source, loser source
        }
      }.toSeq
    // a FORCED larger bucket count (the 100 TB shape: many parallel
    // bucket sorts) still pairs exactly as the JVM recompute says —
    // matchmaking is valid at any bucket count
    val forced = TextOps.btDuels(spark, Sf0001, Some(61L)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    def tally(ds: Seq[(String, String)]) =
      ds.filter(d => d._1 != d._2).groupBy(identity).view.mapValues(_.size).toMap
    assert(tally(forced) === tally(jvmDuels(61L)))
    val duels = jvmDuels(TextOps.btBuckets(docs.length.toLong))
    val cross = duels.filter(d => d._1 != d._2)
    assert(cross.nonEmpty, "no cross-source duels at sf0.001")
    val wins = cross.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sources = docs.map(_._2).distinct.sorted.toSeq
    def w(a: String, b: String) = wins.getOrElse((a, b), 0L)
    def nij(a: String, b: String) = w(a, b) + w(b, a)
    val T = BigInt("1000000000000")
    var r = sources.map(_ -> BigInt(1000000)).toMap
    for (_ <- 1 to TextOps.BtRounds) {
      val r0 = sources.map { i =>
        val d = sources.filter(_ != i).map(j => BigInt(nij(i, j)) * T / (r(i) + r(j))).sum
        val wi = sources.filter(_ != i).map(j => BigInt(w(i, j))).sum
        i -> (if (d == 0) r(i) else (wi * T / d).max(BigInt(1)))
      }.toMap
      val t = r0.values.sum
      r = sources.map(i => i -> (r0(i) * sources.size * 1000000 / t).max(BigInt(1))).toMap
    }
    val exp = sources.map { i =>
      (i, sources.filter(_ != i).map(j => nij(i, j)).sum,
        sources.filter(_ != i).map(j => w(i, j)).sum, r(i).toLong)
    }.toSet
    val got = TextOps.btSourceRatings(spark, Sf0001).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSet
    assert(got === exp)
    // normalization floors keep the total within n of the n·10^6 target
    val n = sources.size
    val tot = exp.toSeq.map(_._4).sum
    assert(tot <= n.toLong * 1000000L && tot >= n.toLong * 1000000L - n,
      s"rating mass drifted: $tot")
  }

  test("retrieval ndcg: c64-discounted sheet matches a fold over the rankings") {
    def gain(rank: Long): Long = 64000000000L / TextOps.c64(rank + 1)
    val truth = SimilarityOps.bruteForceTopK(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val idcg = truth.toSeq.groupBy(_._1).values
      .flatMap(g => (1 to g.size).map(i => gain(i.toLong))).sum
    def expect(list: Seq[(Long, Long, Long)]): (Long, Long, Long) = {
      val dcg = list.filter(t => truth((t._1, t._2))).map(t => gain(t._3)).sum
      (dcg, idcg, (BigInt(dcg) * 1000000 / idcg).toLong)
    }
    def tri(df: org.apache.spark.sql.DataFrame, a: String, b: String, c: String) =
      df.select(a, b, c).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = Map(
      "ivf" -> expect(tri(SimilarityOps.ivfLabelTopK(spark, Sf0001),
        "query_id", "neighbor_id", "rnk")),
      "lsh" -> expect(tri(SimilarityOps.lshTopK(spark, Sf0001),
        "query_id", "neighbor_id", "rnk")),
      "lexical_arm" -> expect(tri(SimilarityOps.hybridLexArm(spark, Sf0001),
        "query_id", "doc_id", "lex_rank")),
      "hybrid_rrf" -> expect(tri(SimilarityOps.hybridRrfTopK(spark, Sf0001),
        "query_id", "doc_id", "rnk"))
    )
    val got = SimilarityOps.retrievalNdcg(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expected)
    // the discount is exact at rank 1 and strictly decreasing over the
    // k window, so a full-truth ranking would score exactly idcg
    assert(gain(1L) === 1000000000L)
    (1L to 5L).sliding(2).foreach(p => assert(gain(p(0)) > gain(p(1))))
    got.values.foreach { case (d, i, ppm) => assert(d <= i && ppm <= 1000000L) }
  }

  test("wordpiece greedy inference matches a plain-Scala longest-match recompute") {
    // constructed-vocab unit check first: UNK and greedy/replay
    // divergence both provably occur
    import spark.implicits._
    val synthVocab = Seq("ab", "##cd", "##c", "##d", "e", "x")
    val synth = Seq("abcd", "eabcd", "abq", "xe").toDF("word")
      .withColumn("wm", typedLit(synthVocab.map(_ -> 1).toMap))
      .withColumn("g", expr(TextOps.wpGreedyExpr(synthVocab)))
      .select(col("word"), col("g.pieces"), col("g.unk"))
      .collect().map(r => r.getString(0) -> (r.getSeq[String](1).toList, r.getBoolean(2)))
      .toMap
    assert(synth("abcd") === (List("ab", "##cd"), false)) // longest ## match wins
    assert(synth("eabcd") === (List("[UNK]"), true)) // no ##a piece -> whole-word UNK
    assert(synth("abq") === (List("[UNK]"), true))
    // "xe": 'x' matches plain, then needs ##e which is NOT in vocab -> UNK
    assert(synth("xe") === (List("[UNK]"), true))

    // full-corpus recompute: rebuild the fit reference (the wordpiece
    // spec above already proves the fit), then greedy-segment every
    // type and fold the per-source sheet
    val words = Tables.documents(spark, Sf0001).select("text").collect()
      .flatMap(_.getString(0).split("[^\\p{L}]+").filter(_.nonEmpty))
    val types = scala.collection.mutable.Map.empty[String, Long]
    words.foreach(w => types.updateWith(w)(c => Some(c.getOrElse(0L) + 1L)))
    def initSeq(w: String): String =
      " " + w.head + (if (w.length > 1) " " + w.tail.map(c => s"##$c").mkString(" ") else "") + " "
    var seqs: Map[String, String] = types.keys.map(w => w -> initSeq(w)).toMap
    for (_ <- 1 to TextOps.WordPieceMerges) {
      val symCnt = scala.collection.mutable.Map.empty[String, Long]
      val pairCnt = scala.collection.mutable.Map.empty[String, Long]
      seqs.foreach { case (w, s) =>
        val f = types(w)
        val syms = s.trim.split(" ")
        syms.foreach(y => symCnt.updateWith(y)(c => Some(c.getOrElse(0L) + f)))
        syms.zip(syms.drop(1)).foreach { case (a, b) =>
          pairCnt.updateWith(s"$a $b")(c => Some(c.getOrElse(0L) + f))
        }
      }
      val (pair, _, _, _, _) = pairCnt.toSeq.map { case (p, c) =>
        val Array(a, b) = p.split(" ", 2)
        (p, c, symCnt(a), symCnt(b),
          (BigInt(c) * BigInt(10).pow(12) / (BigInt(symCnt(a)) * symCnt(b))).toLong)
      }.sortBy { case (p, c, _, _, s) => (-s, -c, p) }.head
      val Array(a, b) = pair.split(" ", 2)
      val merged = a + b.stripPrefix("##")
      seqs = seqs.view.mapValues { s =>
        var r = s
        (1 to 3).foreach(_ => r = r.replace(s" $pair ", s" $merged "))
        r
      }.toMap
    }
    val vocab = seqs.values.flatMap(_.trim.split(" ")).toSet
    def greedy(w: String): (List[String], Boolean) = {
      var pos = 0
      val out = List.newBuilder[String]
      while (pos < w.length) {
        val cands = (w.length - pos to 1 by -1).iterator.map { l =>
          if (pos == 0) w.substring(0, l) else "##" + w.substring(pos, pos + l)
        }.find(vocab.contains)
        cands match {
          case Some(p) => out += p; pos += (if (pos == 0) p.length else p.length - 2)
          case None    => return (List("[UNK]"), true)
        }
      }
      (out.result(), false)
    }
    val docs = Tables.documents(spark, Sf0001).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    val exp = docs.groupBy(_._1).map { case (src, g) =>
      val occ = g.flatMap(_._2)
      val gr = occ.map(w => greedy(w))
      val rep = occ.map(w => seqs(w).trim.split(" ").toList)
      val parity = gr.zip(rep).count { case ((ps, _), rp) => ps == rp }.toLong
      (src, occ.size.toLong, gr.count(_._2).toLong, gr.map(_._1.size.toLong).sum,
        rep.map(_.size.toLong).sum, parity,
        (BigInt(parity) * 1000000 / occ.size).toLong)
    }.toSet
    val got = TextOps.wordpieceGreedy(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got === exp)
  }

  test("doremi weights: exp2 kernel inverts c64 and the sheet matches a driver recompute") {
    import graft.functions.Exp2Kernel
    // the hardcoded dyadic-root table IS round(2^(1/2^(j+1))·2^30):
    // pinned against StrictMath (platform-independent fdlibm pow) so a
    // 1-ulp Math.pow intrinsic drift can never silently change the
    // constants both engines bake in
    assert(Exp2Kernel.C.toSeq === (0 until 6).map(j =>
      Math.round(StrictMath.pow(2.0, 1.0 / (1L << (j + 1))) * (1L << 30))))
    assert(Exp2Kernel.C.toSeq === Seq(1518500250L, 1276901417L, 1170923762L,
      1121280436L, 1097253708L, 1085434106L))
    // exact at whole-bit exponents, monotone, and a true inverse of
    // c64 within the 6-bit fractional quantization
    (0 to 40).foreach(b => assert(Exp2Kernel.exp2q(64L * b) === (1L << b)))
    val ys = (0L to Exp2Kernel.MaxY by 7L) ++ Seq(1L, 63L, 65L, 2559L, 2560L)
    ys.sorted.sliding(2).foreach(p =>
      assert(Exp2Kernel.exp2q(p(0)) <= Exp2Kernel.exp2q(p(1))))
    ys.filter(_ >= 64 * 10).foreach { y => // above 2^10 quantization noise is sub-ppm
      val back = TextOps.c64(Exp2Kernel.exp2q(y))
      assert(math.abs(back - y) <= 3, s"c64(exp2q($y)) = $back")
    }

    // sheet recompute off the (already spec-proven) kn_doc_ppl frame
    val ppl = TextOps.knDocPpl(spark, Sf0001).collect()
      .map(r => (r.getString(1), r.getLong(4)))
    val gmean = ppl.map(_._2).sum / ppl.length
    // the per-source fold the operator now uses (Σs/Σn over the
    // collected vector, replacing round 8's second corpus aggregate)
    // is the SAME integer: grouping then summing loses nothing
    val foldMean = {
      val g = ppl.groupBy(_._1).values.toSeq
      g.map(_.map(_._2).sum).sum / g.map(_.length.toLong).sum
    }
    assert(foldMean === gmean)
    val perSrc = ppl.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, g) =>
      val m = g.map(_._2).sum / g.length
      (src, g.length.toLong, m, m - gmean)
    }
    val mx = perSrc.map(_._4).max
    val vs = perSrc.map { case (src, n, m, e) =>
      (src, n, m, e, Exp2Kernel.exp2q(math.max(e - mx + Exp2Kernel.MaxY, 0L)))
    }
    val tv = vs.map(r => BigInt(r._5)).sum
    val exp = vs.map { case (src, n, m, e, v) =>
      (src, n, m, e, (BigInt(v) * 1000000 / tv).toLong)
    }.toSet
    val got = TextOps.doremiWeights(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === exp)
    // mixture properties: mass within n floors of 10^6, hardest
    // domain carries the top weight, and weights are monotone in
    // excess
    val n = exp.size
    val mass = exp.toSeq.map(_._5).sum
    assert(mass <= 1000000L && mass >= 1000000L - n, s"weight mass $mass")
    val byExcess = exp.toSeq.sortBy(_._4)
    byExcess.sliding(2).foreach(p => assert(p(0)._5 <= p(1)._5))
    assert(byExcess.last._4 === mx)
  }

  test("dsir pipeline matches a plain-Scala recompute of the hashed importance chain") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val nb = TextOps.DsirLambdaBuckets
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    val docGrams = docs.map { case (id, src, t) =>
      (id, src, (t ++ t.zip(t.drop(1)).map { case (a, b) => s"$a $b" }).map(g => h60(g) % nb))
    }
    // bucket model: add-1 smoothed target (src0) vs raw tallies, λ in
    // 1/64-bit c64 units
    val tCnt = Array.fill(nb.toInt)(0L)
    val rCnt = Array.fill(nb.toInt)(0L)
    docGrams.foreach { case (_, src, bs) =>
      bs.foreach { b =>
        rCnt(b.toInt) += 1
        if (src == TextOps.DsirTargetSource) tCnt(b.toInt) += 1
      }
    }
    val tTot = tCnt.sum; val rTot = rCnt.sum
    def lam(b: Int): Long =
      TextOps.c64(tCnt(b) + 1) - TextOps.c64(tTot + nb) -
        TextOps.c64(rCnt(b) + 1) + TextOps.c64(rTot + nb)
    val modelExp = (0 until nb.toInt)
      .map(b => (b.toLong, tCnt(b), rCnt(b), lam(b)))
      .sortBy { case (b, _, _, l) => (-l, b) }.take(25)
    val modelGot = TextOps.dsirBucketModel(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(modelGot === modelExp)
    // a real importance signal: the target slice's own buckets rank up
    assert(modelExp.head._4 > 0L)

    // per-doc scores == Σ λ over the doc's gram buckets
    val scoreExp = docGrams.map { case (id, src, bs) =>
      (id, src, bs.length.toLong, bs.map(b => lam(b.toInt)).sum)
    }.toSet
    val scoreGot = TextOps.dsirDocScores(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(scoreGot === scoreExp)
    // target docs should score above the corpus at large on average
    // (they ARE the target distribution)
    val tScores = scoreExp.filter(_._2 == TextOps.DsirTargetSource).toSeq.map(_._4)
    val oScores = scoreExp.filter(_._2 != TextOps.DsirTargetSource).toSeq.map(_._4)
    assert(tScores.sum / tScores.size > oScores.sum / oScores.size)

    // stratified selection sheet: top ⌊n/5⌋ per source by (score, id)
    val selExp = scoreExp.toSeq.groupBy(_._2).map { case (src, g) =>
      val kept = g.sortBy(t => (-t._4, t._1)).take(g.size / TextOps.DsirKeepDiv.toInt)
      (src, g.size.toLong, kept.size.toLong,
        (BigInt(kept.size) * 1000000 / g.size).toLong,
        kept.map(_._4).sum, if (kept.nonEmpty) kept.map(_._4).min else 0L)
    }.toSet
    val selGot = TextOps.dsirSelect(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(selGot === selExp)

    // global Gumbel top-⌊N/5⌋ (round 10): the md5-coin race in exact
    // c64 units — base-2 Gumbel key = score64 + 384 − c64(max(e64,1)),
    // e64 = 3840 − c64(coin+1)
    val keyed = scoreExp.toSeq.map { case (id, src, _, s64) =>
      val coin = h60(id.toString)
      val e64 = 64L * 60 - TextOps.c64(coin + 1)
      val g64 = 64L * 6 - TextOps.c64(math.max(e64, 1L))
      (id, src, s64, s64 + g64)
    }
    val keptGSet = keyed.sortBy(t => (-t._4, t._1))
      .take(keyed.size / TextOps.DsirKeepDiv.toInt).map(_._1).toSet
    val globExp = keyed.groupBy(_._2).map { case (src, g) =>
      val kept = g.filter(t => keptGSet(t._1))
      (src, g.size.toLong, kept.size.toLong,
        (BigInt(kept.size) * 1000000 / g.size).toLong,
        kept.map(_._3).sum, if (kept.nonEmpty) kept.map(_._4).min else 0L)
    }.toSet
    val globGot = TextOps.dsirSelectGlobal(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(globGot === globExp)
    // the draw is a real sample: both policies keep exactly ⌊·/5⌋
    assert(keptGSet.size === keyed.size / TextOps.DsirKeepDiv.toInt)

    // agreement 2x2 partitions every source's docs across the policies
    val stratKept = scoreExp.toSeq.groupBy(_._2).flatMap { case (_, g) =>
      g.toSeq.sortBy(t => (-t._4, t._1))
        .take(g.size / TextOps.DsirKeepDiv.toInt).map(_._1)
    }.toSet
    val agreeExp = keyed.groupBy(_._2).map { case (src, g) =>
      def cnt(p: ((Long, String, Long, Long)) => Boolean) = g.count(p).toLong
      (src, g.size.toLong,
        cnt(t => keptGSet(t._1) && stratKept(t._1)),
        cnt(t => keptGSet(t._1) && !stratKept(t._1)),
        cnt(t => !keptGSet(t._1) && stratKept(t._1)),
        cnt(t => !keptGSet(t._1) && !stratKept(t._1)))
    }.toSet
    val agreeGot = TextOps.dsirSelectAgreement(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(agreeGot === agreeExp)
    agreeExp.foreach { case (_, n, a, b, c, d) => assert(a + b + c + d === n) }
  }

  test("kn order gain: the bigram-vs-trigram sheet folds exactly from the two per-doc sheets") {
    // both per-doc sheets are independently recompute-proven in their
    // own specs; this verifies the join + means-then-subtract fold
    val two = TextOps.knDocPpl(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(4))).toMap
    val three = TextOps.kn3DocPpl(spark, Sf0001).collect()
      .filter(_.getLong(2) > 0L).map(r => r.getLong(0) -> r.getLong(4)).toMap
    val exp = two.toSeq.collect { case (id, (src, n2)) if three.contains(id) =>
      (src, n2, three(id))
    }.groupBy(_._1).map { case (src, g) =>
      val n = g.length.toLong
      val m2 = g.map(_._2).sum / n
      val m3 = g.map(_._3).sum / n
      (src, n, m2, m3, m2 - m3)
    }.toSet
    val got = TextOps.knOrderGain(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === exp)
    // the higher order fits its own training corpus strictly better on
    // every source at this SF — the readout is non-vacuous
    assert(exp.nonEmpty && exp.forall(_._5 > 0L))
  }

  test("token entropy gate: exact c64 entropy matches a driver recompute") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq))
    def h64Of(toks: Seq[String]): Long =
      if (toks.isEmpty) 0L
      else {
        val counts = toks.groupBy(identity).values.map(_.length.toLong)
        val n = counts.sum
        TextOps.c64(n) - counts.map(c => c * TextOps.c64(c)).sum / n
      }
    val perDoc = docs.map { case (_, src, t) => (src, h64Of(t)) }
    // the quantized entropy is a real entropy: nonnegative, and zero
    // exactly for degenerate (empty or single-type... up to the 6-bit
    // c64 quantization) streams
    perDoc.foreach { case (_, h) => assert(h >= 0L) }
    assert(h64Of(Seq("a", "a", "a")) === 0L)
    assert(h64Of(Seq("a", "b")) === 64L) // exactly 1 bit
    assert(math.abs(h64Of(Seq("a", "b", "c", "d")) - 128L) <= 2) // ~2 bits
    val exp = perDoc.groupBy(_._1).map { case (src, g) =>
      val n = g.length.toLong
      val s = g.map(_._2).sum
      val low = g.count(_._2 < TextOps.LowEntropyH64).toLong
      (src, n, s, s / n, low, (BigInt(low) * 1000000 / n).toLong)
    }.toSet
    val got = TextOps.tokenEntropyGate(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === exp)
  }

  test("selector agreement: Spearman fold matches a BigInt driver recompute") {
    // the three per-doc sheets are each independently recompute-proven
    // in their own specs; this test verifies the rank/Σd²/agreement
    // FOLD over them
    val ds = TextOps.dsirDocScores(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))) // id, src, score64
    val hs = TextOps.hashgramGateProjection(Tables.documents(spark, Sf0001)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ps = TextOps.kn3DocPpl(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    val bySrc = ds.groupBy(_._2)
    def agreement(sumD2: BigInt, n: Long): Long = {
      if (n < 2) 1000000L
      else {
        val dd = BigInt(n) * n * n - n
        ((2 * dd - 6 * sumD2) * 1000000 / (2 * dd)).toLong
      }
    }
    val exp = bySrc.flatMap { case (src, g) =>
      def ranks(key: Long => (Long, Long)): Map[Long, Long] =
        g.map(t => t._1 -> key(t._1)).sortBy(_._2).map(_._1).zipWithIndex
          .map { case (id, i) => id -> (i + 1).toLong }.toMap
      val scoreOf = g.map(t => t._1 -> t._3).toMap
      val rd = ranks(id => (-scoreOf(id), id))
      val rh = ranks(id => (-hs(id), id))
      val rp = ranks(id => (ps(id), id))
      val n = g.length.toLong
      def s(a: Map[Long, Long], b: Map[Long, Long]): BigInt =
        g.map(t => BigInt(a(t._1) - b(t._1)).pow(2)).sum
      Seq(
        (src, "dsir~hashgram", n, agreement(s(rd, rh), n)),
        (src, "dsir~ppl", n, agreement(s(rd, rp), n)),
        (src, "hashgram~ppl", n, agreement(s(rh, rp), n)))
    }.toSet
    val got = TextOps.selectorAgreement(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === exp)
    // bounds: the [0, 10^6] scale where 5*10^5 is "unrelated"
    assert(exp.forall(t => t._4 >= 0L && t._4 <= 1000000L))
    // non-vacuous: the selectors are genuinely different orderings
    assert(exp.exists(_._4 != 1000000L))
  }

  test("round-8 continuation additions are partition-invariant: parallelism 2 vs 16") {
    val names = Seq("kn_bigram_fit", "kn_doc_ppl", "ppl_bucket_split",
      "wordpiece_fit", "wordpiece_encode", "tokenizer_bakeoff",
      "retrieval_ndcg", "bt_source_ratings", "wordpiece_greedy", "doremi_weights")
    def run(): Map[String, Set[String]] = names.map { n =>
      n -> SparkEntry.queries(n)(spark, Sf0001).collect().map(_.toString).toSet
    }.toMap
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val r2 = run()
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      val r16 = run()
      names.foreach(n => assert(r2(n) === r16(n), s"query $n partition-sensitive"))
      assert(r2.values.forall(_.nonEmpty))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("round-10 additions and grouped-RankOps rewrites are partition-invariant: " +
    "parallelism 2 vs 16") {
    // the grouped-RankOps ledgers range-partition on the shuffle
    // parallelism, so the rewritten queries are exactly the ones that
    // could bake a partition count into a rank/ntile/cumsum; the
    // order-N KN ladder and the Gumbel global rank join them
    val names = Seq("typo_pairs", "typo_rewrite", "weighted_sample_aes",
      "dsir_select", "dsir_select_global",
      "dsir_select_agreement", "selector_agreement", "ppl_bucket_split",
      "seq_packing", "pack_offsets", "padding_waste",
      "kn5_fit", "kn4_doc_ppl", "kn5_doc_ppl", "kn_order_curve",
      "kn5_pruned_fit", "kn5_pruned_stats", "kn5_pruned_doc_ppl")
    def run(): Map[String, Set[String]] = {
      graft.operators.Artifacts.clear()
      // clear() alone would recover every STAGED artifact from parquet
      // instead of rebuilding it under the new parallelism, so drop
      // the dir's staged files too
      graft.operators.Artifacts.dropStaging(spark, Sf0001)
      names.map { n =>
        n -> SparkEntry.queries(n)(spark, Sf0001).collect().map(_.toString).toSet
      }.toMap
    }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val r2 = run()
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      val r16 = run()
      names.foreach(n => assert(r2(n) === r16(n), s"query $n partition-sensitive"))
      assert(r2.values.forall(_.nonEmpty))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      graft.operators.Artifacts.clear()
    }
  }

  test("RankOps grouped ledger: broadcast fallback (threshold 1) is bit-identical " +
    "to the literal-map path and the plain grouped window, and plans a BroadcastHashJoin") {
    import org.apache.spark.sql.expressions.Window
    val df = Tables
      .documents(spark, Sf0001)
      .select(col("source"), col("doc_id"), col("n_chars"))
    val order = Seq(col("n_chars"), col("doc_id"))
    val w = Window.partitionBy(col("source")).orderBy(order: _*)
    val oracle = df
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn(
        "cum",
        sum(col("n_chars")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nt", ntile(3).over(w).cast("long"))
      .collect()
      .map(_.toString)
      .toSet
    def run(): (Set[String], String) = {
      val ranked =
        RankOps.withGroupRankAndCount(df, Seq(col("source")), "rk", "cnt", order)
      val summed = RankOps.withGroupRunningSum(
        df, Seq(col("source")), col("n_chars"), "cum", order)
      val tiled = RankOps.withGroupNtile(df, Seq(col("source")), 3, "nt", order)
      val joined = ranked
        .join(summed.select(col("doc_id"), col("cum")), Seq("doc_id"))
        .join(tiled.select(col("doc_id"), col("nt")), Seq("doc_id"))
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("rk"), col("cnt"), col("cum"), col("nt"))
      (joined.collect().map(_.toString).toSet,
        ranked.queryExecution.executedPlan.toString)
    }
    val (litRows, litPlan) = run()
    assert(litRows === oracle, "literal-map path diverges from the plain window")
    assert(!litPlan.contains("BroadcastHashJoin"),
      "literal path unexpectedly joins the ledger")
    try {
      spark.conf.set("spark.graft.rankops.maxLiteralLedger", "1")
      val (bRows, bPlan) = run()
      assert(bRows === oracle, "broadcast-fallback path diverges from the plain window")
      assert(bPlan.contains("BroadcastHashJoin"),
        s"fallback plan lacks BroadcastHashJoin:\n$bPlan")
    } finally spark.conf.unset("spark.graft.rankops.maxLiteralLedger")
  }

  test("round-9 additions are partition-invariant: parallelism 2 vs 16") {
    // artifacts memoize per session, so force fresh builds per setting
    // by dropping the registry between runs
    val names = Seq("kn3_trigram_fit", "kn3_doc_ppl", "ppl_bucket_split",
      "dsir_bucket_model", "dsir_doc_scores", "dsir_select",
      "token_entropy_gate", "selector_agreement", "kn_order_gain")
    def run(): Map[String, Set[String]] = {
      graft.operators.Artifacts.clear()
      graft.operators.Artifacts.dropStaging(spark, Sf0001)
      names.map { n =>
        n -> SparkEntry.queries(n)(spark, Sf0001).collect().map(_.toString).toSet
      }.toMap
    }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val r2 = run()
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      val r16 = run()
      names.foreach(n => assert(r2(n) === r16(n), s"query $n partition-sensitive"))
      assert(r2.values.forall(_.nonEmpty))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      graft.operators.Artifacts.clear()
    }
  }
}
