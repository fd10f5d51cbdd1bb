package graft

import org.apache.spark.sql.functions._
import graft.ops.Classifier

/** Trained quality classifier: featurization vs an independent
  * explode+groupBy Spark path, the distributed IRLS fit vs an
  * independent in-memory IRLS (different linear solver), separability
  * on a planted corpus, exact partition invariance, and
  * majority-beating accuracy on the fixture. */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")

  private val Scale = 1048576L

  test("hashedDocFeatures equals the explode+groupBy reference path") {
    val dim = 64
    val got = Classifier.hashedDocFeatures(docs, $"lang" === "en", "doc_id", "text", dim)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getSeq[Int](3), r.getSeq[Long](4))))
      .toMap
    // Independent path: explode tokens, hash, shuffle-aggregate.
    val want = docs
      .select($"doc_id", when($"lang" === "en", 1L).otherwise(0L).as("y"),
        explode(split($"text", " ")).as("tok"))
      .select($"doc_id", $"y", pmod(xxhash64($"tok"), lit(dim.toLong)).cast("int").as("b"))
      .groupBy("doc_id", "y", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "y").agg(
        sum($"c").as("n"),
        sort_array(collect_list(struct($"b", $"c"))).as("bc"))
      .collect().map { r =>
        val bc = r.getSeq[org.apache.spark.sql.Row](3)
        r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          bc.map(_.getInt(0)), bc.map(_.getLong(1))))
      }.toMap
    assert(got == want)
  }

  /** Independent in-memory IRLS over collected features, replicating
    * the documented statistics arithmetic (sigmoid, HALF_UP
    * fixed-point pre-sum, exact Long accumulation) but solving the
    * Newton system with GAUSS-JORDAN elimination instead of Cholesky —
    * an independent solver, so agreement is a property of the math,
    * not copied code. Solver ulp differences can land a weight on the
    * other side of a 2^-20 rounding boundary, hence the small
    * tolerance in the comparison below. */
  private def refIrls(
      feats: Seq[(Long, Long, Seq[Int], Seq[Long])], // (y, n, bkts, cnts)
      dim: Int, iters: Int, ridge: Double): (Array[Long], Long) = {
    def fp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val m = dim + 1
    val w = Array.fill(m)(0L) // index dim = intercept
    val nDocs = feats.size
    for (_ <- 1 to iters) {
      val acc = new scala.collection.mutable.HashMap[(Int, Int), Long]().withDefaultValue(0L)
      val gacc = new scala.collection.mutable.HashMap[Int, Long]().withDefaultValue(0L)
      for ((y, n, bkts, cnts) <- feats) {
        val dotFp = bkts.zip(cnts).map { case (b, c) => w(b) * c }.sum
        val z = dotFp.toDouble / (Scale.toDouble * n) + w(dim).toDouble / Scale.toDouble
        val p = 1.0 / (1.0 + math.exp(-z))
        val s = p * (1.0 - p)
        val fs = bkts.zip(cnts).map { case (b, c) => (b, c.toDouble / n) } :+ ((dim, 1.0))
        for ((a, xa) <- fs; (b, xb) <- fs if b >= a)
          acc((a, b)) += fp(s * xa * xb * Scale.toDouble)
        for ((a, xa) <- fs) gacc(a) += fp((y - p) * xa * Scale.toDouble)
      }
      val a = Array.ofDim[Double](m, m)
      val g = new Array[Double](m)
      for (i <- 0 until m) {
        g(i) = gacc(i).toDouble / Scale - ridge * nDocs * (w(i).toDouble / Scale)
        for (j <- i until m) {
          val v = acc((i, j)).toDouble / Scale
          a(i)(j) = v; a(j)(i) = v
        }
        a(i)(i) += ridge * nDocs
      }
      // Gauss-Jordan with the natural pivot order.
      val aug = Array.tabulate(m)(i => a(i) :+ g(i))
      for (c <- 0 until m) {
        val piv = aug(c)(c)
        for (j <- c to m) aug(c)(j) /= piv
        for (r <- 0 until m if r != c) {
          val f = aug(r)(c)
          for (j <- c to m) aug(r)(j) -= f * aug(c)(j)
        }
      }
      for (i <- 0 until m) w(i) += fp(aug(i)(m) * Scale)
    }
    (w.take(dim), w(dim))
  }

  test("trainQuality matches the independent in-memory IRLS within fp tolerance") {
    val dim = 64
    val feats = Classifier.hashedDocFeatures(docs, $"lang" === "en", "doc_id", "text", dim)
      .collect().map(r => (r.getLong(1), r.getLong(2),
        r.getSeq[Int](3), r.getSeq[Long](4))).toSeq
    val (wantW, wantB) = refIrls(feats, dim, iters = 6, ridge = 1e-5)
    val got = Classifier.trainQuality(docs, $"lang" === "en", dim = dim)
    val diffs = (got.weightsFp :+ got.biasFp).zip(wantW :+ wantB)
      .map { case (a, b) => math.abs(a - b) }
    // Solver-ulp slack only: 16 fp units = 1.5e-5 on weights of O(1).
    assert(diffs.max <= 16L,
      s"IRLS fits diverged: max diff ${diffs.max} fp units at " +
        s"index ${diffs.indexOf(diffs.max)}")
  }

  test("the classifier separates a planted two-vocabulary corpus") {
    // Positives draw from a 'gN' vocabulary, negatives from 'bN' — a
    // linearly separable bag-of-words problem the hashed-feature fit
    // must solve nearly perfectly (ridge keeps the separable MLE
    // finite).
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val pos = i % 2 == 0
      val v = if (pos) "g" else "b"
      val text = (0 until 30).map(_ => s"$v${rnd.nextInt(40)}").mkString(" ")
      (i.toLong, text, pos)
    }
    val df = rows.toDF("doc_id", "text", "is_pos")
    val model = Classifier.trainQuality(df, $"is_pos", dim = 64)
    val scored = Classifier.scoreQuality(df, model, $"is_pos")
    val acc = scored.agg(
      sum(when($"pred" === ($"y" === 1L), 1L).otherwise(0L)).as("ok"),
      count(lit(1)).as("n")).collect()(0)
    assert(acc.getLong(0).toDouble / acc.getLong(1) >= 0.99,
      s"accuracy ${acc.getLong(0)}/${acc.getLong(1)}")
  }

  test("the trained model is partition-invariant, exactly") {
    val a = Classifier.trainQuality(docs.repartition(1), $"lang" === "en",
      dim = 32, iters = 3)
    val b = Classifier.trainQuality(docs.repartition(13), $"lang" === "en",
      dim = 32, iters = 3)
    assert(a.weightsFp.toSeq == b.weightsFp.toSeq && a.biasFp == b.biasFp)
  }

  test("early stop fires only at the EXACT fixed point, and is exact there") {
    // The trainers stop once every fixed-point delta rounds to zero —
    // an ABSORBING state (unchanged weights reproduce the identical
    // statistics and step zero again). On a label-symmetric corpus
    // (the same feature rows under y = 1 and y = 0) the HALF_UP
    // contributions cancel EXACTLY, so the zero vector is the fixed
    // point and iteration 1 already steps zero: the stop must fire
    // immediately, every budget must return the all-zero model, and
    // the Spark job count must show the remaining 49 statistics scans
    // were actually SKIPPED, not run as no-ops.
    val sym = (0L until 8L).flatMap(i => Seq(
      (2 * i, 1L, s"alpha beta gamma tok$i"),
      (2 * i + 1, 0L, s"alpha beta gamma tok$i")))
      .toDF("doc_id", "y", "text")
    // The meter reads its job count after a bus drain, so the count
    // is complete when the assertion runs.
    val m50 = graft.core.StageMeter.measure(spark) {
      Classifier.trainQuality(sym, $"y" === 1L, dim = 16, iters = 50)
    }
    assert(m50.value.weightsFp.forall(_ == 0L) && m50.value.biasFp == 0L,
      "symmetric corpus must fix at the zero model")
    // featurize checkpoint + count + ONE stats round (a handful of
    // jobs); 50 un-stopped rounds would be >= 50 jobs.
    assert(m50.jobs < 20,
      s"early stop did not skip the remaining rounds: ${m50.jobs} jobs")
    // On the REAL fixture the stop measurably never fires: the
    // fixed-point trajectory jitters at the rounding floor (round-12
    // measurement, sf0.001 dim=32: per-iteration L1 delta falls to
    // ~400-4000 units by iteration 6 and stays there through 50 —
    // rounding feedback, not convergence failure; the multiclass
    // Bohning-Lindsay fit is still genuinely contracting at its
    // 12-iteration budget). So the assertable property here is
    // DETERMINISM of the stop decision, not absorption: identical
    // budgets give bit-identical weights.
    val a = Classifier.trainQuality(docs, $"lang" === "en", dim = 32, iters = 12)
    val b = Classifier.trainQuality(docs, $"lang" === "en", dim = 32, iters = 12)
    assert(a.weightsFp.toSeq == b.weightsFp.toSeq && a.biasFp == b.biasFp,
      "trajectory drifted across reruns")
  }

  test("distilling the t03 language-ID label beats the majority class on the fixture") {
    // The declared t31 task: the label (languageId's argmax of linear
    // marker-overlap scores) is learnable from the hashed counts, so
    // the fit must do strictly better than always-predict-majority.
    // (The fixture's lang COLUMN, by contrast, is independent of the
    // token distributions — a Naive Bayes check tops out at the
    // majority rate — so it would be a vacuous training target.)
    val labeled = graft.ops.TextAnalysis.languageId(docs)
    val row = Classifier.qualitySummary(labeled, $"pred_lang" === "en").collect()(0)
    val nPos = labeled.filter($"pred_lang" === "en").count()
    val majority = math.max(nPos, labeled.count() - nPos)
    assert(row.getAs[Long]("n_docs") == docs.count())
    assert(row.getAs[Long]("n_agree") > majority,
      s"classifier no better than majority: ${row.getAs[Long]("n_agree")} vs $majority")
  }

  /** Independent in-memory Bohning-Lindsay OvR trainer over collected
    * features (Gauss-Jordan solves, own loop), replicating the
    * documented fixed-point statistics arithmetic. */
  private def refMulticlass(
      feats: Seq[(Int, Long, Seq[Int], Seq[Long])], // (lab, n, bkts, cnts)
      nClasses: Int, dim: Int, iters: Int,
      ridge: Double): (Seq[Array[Long]], Seq[Long]) = {
    def fp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val m = dim + 1
    val nDocs = feats.size
    // Fixed curvature X'X/4 from fp contributions.
    val acc = new scala.collection.mutable.HashMap[(Int, Int), Long]().withDefaultValue(0L)
    for ((_, n, bkts, cnts) <- feats) {
      val fs = bkts.zip(cnts).map { case (b, c) => (b, c.toDouble / n) } :+ ((dim, 1.0))
      for ((a, xa) <- fs; (b, xb) <- fs if b >= a)
        acc((a, b)) += fp(0.25 * xa * xb * Scale.toDouble)
    }
    val A = Array.ofDim[Double](m, m)
    for (i <- 0 until m) {
      for (j <- i until m) {
        val v = acc((i, j)).toDouble / Scale
        A(i)(j) = v; A(j)(i) = v
      }
      A(i)(i) += ridge * nDocs
    }
    def solve(b: Array[Double]): Array[Double] = {
      val aug = Array.tabulate(m)(i => A(i) :+ b(i))
      for (c <- 0 until m) {
        val piv = aug(c)(c)
        for (j <- c to m) aug(c)(j) /= piv
        for (r <- 0 until m if r != c) {
          val f = aug(r)(c)
          for (j <- c to m) aug(r)(j) -= f * aug(c)(j)
        }
      }
      aug.map(_(m))
    }
    val w = Seq.fill(nClasses)(Array.fill(m)(0L))
    for (_ <- 1 to iters) {
      val gacc = new scala.collection.mutable.HashMap[(Int, Int), Long]().withDefaultValue(0L)
      for ((lab, n, bkts, cnts) <- feats) {
        val fs = bkts.zip(cnts).map { case (b, c) => (b, c.toDouble / n) } :+ ((dim, 1.0))
        for (c <- 0 until nClasses) {
          val dotFp = bkts.zip(cnts).map { case (b, cc) => w(c)(b) * cc }.sum
          val z = dotFp.toDouble / (Scale.toDouble * n) + w(c)(dim).toDouble / Scale.toDouble
          val p = 1.0 / (1.0 + math.exp(-z))
          val y = if (lab == c) 1.0 else 0.0
          for ((i, x) <- fs) gacc((c, i)) += fp((y - p) * x * Scale.toDouble)
        }
      }
      for (c <- 0 until nClasses) {
        val g = new Array[Double](m)
        for (i <- 0 until m)
          g(i) = gacc((c, i)).toDouble / Scale - ridge * nDocs * (w(c)(i).toDouble / Scale)
        val d = solve(g)
        for (i <- 0 until m) w(c)(i) += fp(d(i) * Scale)
      }
    }
    (w.map(_.take(dim)), w.map(_(dim)))
  }

  test("trainMulticlass matches the independent in-memory OvR trainer within fp tolerance") {
    val classes = graft.ops.TextAnalysis.langProfiles.map(_._1)
    val labeled = graft.ops.TextAnalysis.languageId(docs)
    val dim = 64
    val labIdx = classes.zipWithIndex.foldRight(lit(-1): org.apache.spark.sql.Column) {
      case ((c, i), acc) => when($"pred_lang" === c, lit(i)).otherwise(acc)
    }
    val feats = labeled
      .select($"doc_id", labIdx.as("lab"),
        transform(split($"text", " "), t => pmod(xxhash64(t), lit(dim.toLong)).cast("int")).as("ab"))
      .select($"lab", size($"ab").cast("long").as("n"),
        sort_array(array_distinct($"ab")).as("bkts"), $"ab")
      .select($"lab", $"n", $"bkts",
        transform($"bkts", b => size(filter($"ab", x => x === b)).cast("long")).as("cnts"))
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Int](2), r.getSeq[Long](3))).toSeq
    val (wantW, wantB) = refMulticlass(feats, classes.size, dim, iters = 12, ridge = 1e-5)
    val got = graft.ops.Classifier.trainMulticlass(labeled, $"pred_lang", classes, dim = dim)
    val diffs = got.weightsFp.zip(wantW).flatMap { case (a, b) =>
      a.zip(b).map { case (x, y) => math.abs(x - y) }
    } ++ got.biasFp.zip(wantB).map { case (x, y) => math.abs(x - y) }
    assert(diffs.max <= 16L, s"OvR fits diverged: max diff ${diffs.max} fp units")
  }

  test("the multiclass model is partition-invariant, exactly") {
    val classes = graft.ops.TextAnalysis.langProfiles.map(_._1)
    val labeled = graft.ops.TextAnalysis.languageId(docs)
    val a = graft.ops.Classifier.trainMulticlass(
      labeled.repartition(1), $"pred_lang", classes, dim = 32, iters = 3)
    val b = graft.ops.Classifier.trainMulticlass(
      labeled.repartition(13), $"pred_lang", classes, dim = 32, iters = 3)
    assert(a.weightsFp.map(_.toSeq) == b.weightsFp.map(_.toSeq) &&
      a.biasFp == b.biasFp)
  }

  test("five-way langid distillation beats the majority class by a wide margin") {
    val classes = graft.ops.TextAnalysis.langProfiles.map(_._1)
    val labeled = graft.ops.TextAnalysis.languageId(docs)
    val row = graft.ops.Classifier.multiclassSummary(
      labeled, $"pred_lang", classes, dim = 256).collect()(0)
    val majority = labeled.groupBy("pred_lang").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(row.getAs[Long]("n_docs") == docs.count())
    assert(row.getAs[Long]("n_agree") > 2 * majority,
      s"multiclass no better than majority: ${row.getAs[Long]("n_agree")} vs $majority")
  }

  test("a saved model round-trips parquet and scores bit-identically") {
    val labeled = graft.ops.TextAnalysis.languageId(docs)
    val model = Classifier.trainQuality(labeled, $"pred_lang" === "en",
      dim = 32, iters = 3)
    val p = java.nio.file.Files.createTempDirectory("cls_model").toString
    Classifier.saveModel(spark, model, p)
    val loaded = Classifier.loadModel(spark, p)
    assert(loaded.dim == model.dim &&
      loaded.weightsFp.toSeq == model.weightsFp.toSeq &&
      loaded.biasFp == model.biasFp)
    def rows(m: Classifier.LogisticModel) =
      Classifier.scoreQuality(labeled, m, $"pred_lang" === "en")
        .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(rows(loaded) == rows(model))
  }

  test("the fit satisfies the logistic score equation (calibration)") {
    // At the (lightly ridged) MLE with an intercept, sum(p_i) ~= n_pos
    // — the score equation for the intercept coordinate. A strong
    // whole-trajectory correctness check independent of any reference
    // implementation.
    val labeled = graft.ops.TextAnalysis.languageId(docs)
    val row = Classifier.qualitySummary(labeled, $"pred_lang" === "en").collect()(0)
    val nPos = labeled.filter($"pred_lang" === "en").count()
    val meanP = row.getAs[Long]("score_mass").toDouble / Scale
    assert(math.abs(meanP - nPos) < 0.02 * docs.count(),
      s"sum(p)=$meanP vs n_pos=$nPos")
  }

  test("trainMulticlass: out-of-class documents do not move the fit") {
    // A doc whose label is outside `classes` has no one-vs-rest
    // target; training must fit the labeled subset only, not treat
    // the stragglers as universal negatives for every class.
    val labeled = Seq(
      (1L, "en", "aa bb aa"), (2L, "fr", "cc dd cc"),
      (3L, "en", "aa aa bb"), (4L, "fr", "dd cc dd"))
    val noise = Seq((10L, "de", "zz yy zz"), (11L, "de", "yy yy zz"))
    def fit(docs: Seq[(Long, String, String)]) =
      Classifier.trainMulticlass(docs.toDF("doc_id", "lang", "text"),
        col("lang"), Seq("en", "fr"), dim = 16, iters = 4)
    val withNoise = fit(labeled ++ noise)
    val pure = fit(labeled)
    assert(withNoise.weightsFp.map(_.toSeq) == pure.weightsFp.map(_.toSeq) &&
      withNoise.biasFp == pure.biasFp,
      "out-of-class docs changed the trained weights")
  }

  test("confusionMatrix: hand-computed pairs, exact row shares, no zero-fill") {
    val d = Seq(
      ("en", "en"), ("en", "en"), ("en", "de"), // en: 2/3 recalled, 1/3 to de
      ("de", "de"),                             // de: perfect
      ("zh", "en")                              // zh: fully leaked
    ).toDF("truth_lang", "pred")
    val out = Classifier.confusionMatrix(d, "truth_lang", "pred").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(("en", "en")) == ((2L, 3L, 699050L)), // (2*2^20) div 3
      s"en diagonal: ${out(("en", "en"))}")
    assert(out(("en", "de")) == ((1L, 3L, 349525L)), // (1*2^20) div 3
      s"en leakage: ${out(("en", "de"))}")
    assert(out(("de", "de")) == ((1L, 1L, 1048576L)),
      "a perfect class reads exactly 2^20")
    assert(out(("zh", "en")) == ((1L, 1L, 1048576L)),
      "a fully-leaked class reads 2^20 on its one (observed) pair")
    assert(out.size == 4, s"unobserved pairs must be absent, got ${out.keySet}")
    // Truncation invariant: shares within a truth row sum into
    // (2^20 - pairs, 2^20].
    val enShares = out.collect { case (("en", _), (_, _, s)) => s }.sum
    assert(enShares == 1048575L, s"en shares must sum to 2^20 - 1: $enShares")
  }

  test("confusionMatrix: a NULL truth class keeps its rows (null-safe totals join)") {
    // An unlabeled row is still an observed class; the round-15 ADVICE
    // fix made the totals join null-safe — this pins it so a refactor
    // back to the simpler (wrong) equi-join goes red instead of
    // silently dropping the whole NULL-truth group.
    val d = Seq(
      (Option("en"), "en"),
      (Option.empty[String], "en"), (Option.empty[String], "de")
    ).toDF("truth_lang", "pred")
    val out = Classifier.confusionMatrix(d, "truth_lang", "pred").collect()
      .map(r => (Option(r.getString(0)), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.size == 3, s"NULL-truth pairs must survive: ${out.keySet}")
    assert(out((None, "en")) == ((1L, 2L, 524288L)) &&
      out((None, "de")) == ((1L, 2L, 524288L)),
      s"NULL truth row_total must cover both its pairs: $out")
    assert(out((Some("en"), "en")) == ((1L, 1L, 1048576L)))
  }
}
