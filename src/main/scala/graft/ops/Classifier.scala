package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned quality classification — the fastText-style filter step of a
  * pretraining pipeline (Joulin et al., arXiv:1607.01759; the GPT-3 /
  * CCNet "quality classifier" that scores every crawled document
  * against a trusted reference corpus). Complements the HEURISTIC
  * quality scorers already in [[TextAnalysis]] (t02 ratios, t19/t25 LM
  * log-probs): here the filter is TRAINED on labeled examples instead
  * of hand-set thresholds.
  *
  * Model: ridge-regularized logistic regression over `dim` hashed
  * bag-of-token buckets with length-normalized counts — the fastText
  * architecture minus the learned embeddings (a linear model over
  * hashed features is what the published pipelines actually ship for
  * corpus filtering).
  *
  * Fit: distributed IRLS (iteratively reweighted least squares — the
  * classic Newton GLM fit), not gradient descent: hashed bag-of-words
  * features are badly conditioned (the intercept direction's curvature
  * is ~dim times any single bucket's), where first-order methods crawl
  * or oscillate; Newton is conditioning-free and reaches the ridge-MLE
  * fixed point in a handful of iterations. Each iteration computes the
  * sufficient statistics X'SX and X'(y-p) as ONE scan over the
  * featurized corpus — per-doc outer-product contributions (O(k²) per
  * doc for k distinct buckets, a projection) partial-aggregate to at
  * most (dim+1)² + (dim+1) keys — followed by a (dim+1)-sized driver
  * Cholesky solve. The corpus is featurized ONCE into a per-document
  * sparse vector (a pure shuffle-free projection, `localCheckpoint`ed).
  * At 100 TB: scan-bound per iteration, dim²-bounded shuffle, O(dim²)
  * driver state — the [[TextAnalysis.bpeMerges]] driver-loop shape.
  *
  * Determinism (the pinnable-oracle requirement): weights live in
  * 2^-20 fixed point as BIGINTs; each doc's margin is an EXACT Long
  * dot product divided once in IEEE double; the sigmoid is a single
  * fixed expression; per-row statistic contributions are rounded to
  * fixed point BEFORE the exact BIGINT sum (the t19/t30 pre-sum
  * pattern), so the collected normal equations — and hence the whole
  * training trajectory — are bit-identical at any partitioning and any
  * aggregation order. The driver solve is a fixed-order Cholesky over
  * those exact integers. ClassifierSpec checks the fit against an
  * independent in-memory IRLS and pins partition invariance exactly.
  */
object Classifier {

  /** 2^-20 fixed point, the house scale (t19/t25/t30). */
  private val Scale = 1048576L

  /** Round-robin-spread a DEFICIENTLY-split corpus to the session
    * default parallelism — and do NOTHING (no exchange) otherwise.
    * The conditional is load-bearing in both directions: a single-split
    * corpus (the bench fixture; any small-file ingest) would otherwise
    * run the featurize pass and every training scan on ONE task
    * (measured round 12: the whole t31/t32 in-job time was
    * one-core-bound; the spread cut t32_multiclass 10.15 → 6.2 s), but
    * an UNCONDITIONAL repartition would shuffle the whole corpus — at
    * 100 TB a corpus-sized exchange that would also break the proven
    * feature-bounded trainer-shuffle invariant (TrainPrepSpec pins
    * shuffle invariance under 10x document-mass tiling; an
    * adequately-split source must stay exchange-free). Results are
    * partition-invariant either way, so the trajectory and pins never
    * move.
    *
    * The split count is read off `queryExecution.toRdd` (the planned
    * InternalRow RDD the frame itself executes through) rather than
    * `df.rdd`, which would plan a SECOND physical tree with a
    * deserialize-to-objects step just to ask for a partition count.
    * Threshold is `< p`, not `*2 < p`: a source with p/2..p-1 splits
    * is still under the session's core count, and the spread only
    * ever fires on small sources (a 100 TB scan has orders of
    * magnitude more splits than cores), so the exchange-free
    * invariant for adequately-split corpora is untouched. */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < p) df.repartition(p)
    else df
  }

  /** Trained model: `dim` bucket weights plus an intercept, all in
    * 2^-20 fixed point. */
  final case class LogisticModel(dim: Int, weightsFp: Array[Long], biasFp: Long) {
    require(weightsFp.length == dim, s"dim $dim vs ${weightsFp.length} weights")
  }

  /** The `(n, bkts, cnts)` feature columns as ONE `inline` generator
    * over the token-bucket array — shared by [[hashedDocFeatures]] and
    * [[featurizeLab]] so the two featurizers cannot drift.
    *
    * Shape (round-18 rework of the run-length encoding): the bucket
    * array binds once as a lambda variable, its SORTED copy binds in a
    * nested lambda, the run-start index list binds in a third, and the
    * three outputs come off those bindings — `bkts` = the sorted
    * array's run-start values (== sorted distinct buckets), `cnts` =
    * successive run-start differences (== per-bucket occurrence
    * counts), `n` = the array size. Everything heavy is therefore
    * evaluated ONCE per row and the per-element lambda work is O(1)
    * lookups, so the row cost is O(tokens) plus one codegen'd sort —
    * the previous form counted each distinct bucket with its own
    * filter() scan of the full bucket array, O(distinct-buckets x
    * tokens) interpreted-HOF work per row (dim=256 docs paid ~100x).
    * The `inline` generator emits the struct's fields as columns from
    * exactly one evaluation (1 element -> exactly 1 row; references
    * are attribute reads, so CollapseProject cannot duplicate the
    * subtree). Values, names, order, and null behavior are identical
    * to the old projection (null token array -> null n/bkts/cnts). */
  private def packedFeatureCols(toks: Column, dim: Int): Column =
    inline(transform(array(
        transform(toks, t => pmod(xxhash64(t), lit(dim.toLong)).cast("int"))),
      a => element_at(transform(array(sort_array(a)), s =>
        element_at(transform(array(
            // 1-based indices where a run of equal values starts; the
            // when() guard keeps sequence() off the empty array (it
            // would generate a DESCENDING [1,0] there, not []).
            when(size(s) > 0,
              filter(sequence(lit(1), size(s)), i =>
                (i === 1) || (element_at(s, i) =!= element_at(s, i - 1))))
              .otherwise(array().cast("array<int>"))), st =>
          struct(
            size(s).cast("long").as("n"),
            when(isnull(s), lit(null).cast("array<int>"))
              .otherwise(transform(st, i => element_at(s, i))).as("bkts"),
            when(isnull(s), lit(null).cast("array<bigint>"))
              .otherwise(transform(st, (i, j) =>
                (coalesce(get(st, j + 1), size(s) + 1) - i).cast("long")))
              .as("cnts"))), 1)), 1)))

  /** Per-document sparse hashed features, as a pure projection (NO
    * shuffle): tokens hash into `dim` buckets (`pmod(xxhash64(tok),
    * dim)`), and the per-doc (bucket, count) pairs are run-length
    * encoded with array HOFs over the materialized bucket array.
    * Output: `(id, y, n, bkts, cnts)` with `bkts` the doc's distinct
    * buckets ascending and `cnts` the aligned counts. O(tokens) per
    * row (see [[packedFeatureCols]]) — projection work, traded
    * deliberately against the corpus-wide explode+groupBy shuffle it
    * replaces (ClassifierSpec proves equality to that path). */
  def hashedDocFeatures(df: DataFrame, labelExpr: Column, idCol: String,
      textCol: String, dim: Int): DataFrame = {
    require(dim >= 2 && dim <= 1024, s"bad dim=$dim")
    val toks = TextAnalysis.tokens(col(textCol))
    df.select(
      col(idCol).as("id"),
      coalesce(when(labelExpr, 1L).otherwise(0L), lit(0L)).as("y"),
      packedFeatureCols(toks, dim))
  }

  /** The fixed margin/probability expressions shared by training and
    * scoring: exact Long dot product of counts x fixed-point weights,
    * one double division by (Scale * n), intercept added in double,
    * sigmoid. `weightsFp` arrives as ONE array-typed literal
    * (`typedlit`, shipped in the task binary — dim <= 1024 Longs) —
    * NOT a `array(lit, lit, ...)` CreateArray of dim nodes: at the
    * declared t32 shape (dim = 256, 5 classes, 12 iterations) the
    * CreateArray form made every training iteration re-analyze and
    * Janino-recompile ~1300 literal nodes, and that DRIVER cost — not
    * the 28 KB-shuffle jobs — dominated the t32 wall (measured round
    * 12: the one-node literal cut t32_multiclass from ~11.5 s to the
    * job-bound floor). Values and arithmetic are identical
    * (element_at over the same Longs), so the training trajectory and
    * the pinned w_hash are byte-unchanged. */
  private def marginExpr(weightsFp: Array[Long], biasFp: Long): Column = {
    val w = typedlit(weightsFp.toSeq)
    val dotFp = aggregate(
      zip_with(col("bkts"), col("cnts"),
        (b, c) => element_at(w, b + 1) * c),
      lit(0L), (acc, x) => acc + x)
    dotFp.cast("double") / (lit(Scale.toDouble) * col("n")) +
      lit(biasFp.toDouble / Scale.toDouble)
  }

  private def probExpr(weightsFp: Array[Long], biasFp: Long): Column =
    lit(1.0) / (lit(1.0) + exp(-marginExpr(weightsFp, biasFp)))

  /** Dense-in-k sparse feature list incl. the intercept: (index,
    * value) with value = c/n for buckets, 1.0 for the intercept. */
  private def featArr(dim: Int): Column = concat(
    zip_with(col("bkts"), col("cnts"),
      (b, c) => struct(b.cast("long").as("i"),
        (c.cast("double") / col("n")).as("x"))),
    array(struct(lit(dim.toLong).as("i"), lit(1.0).as("x"))))

  /** One IRLS iteration's sufficient statistics, fixed-pointed and
    * exactly summed: upper-triangle entries of X'SX as key
    * `a * (dim+2) + b` (a <= b, intercept at index dim), and the
    * gradient X'(y - p) as key `-(a + 1)`. Two scans of the cached
    * feature table (quadratic pairs + gradient), one partial-agg
    * shuffle of <= (dim+1)(dim+4)/2 keys. */
  private def irlsStats(feats: DataFrame, weightsFp: Array[Long],
      biasFp: Long, dim: Int): Map[Long, Long] = {
    // The quadratic pair stream runs through two CODEGEN'D Generates
    // (posexplode + slice of the sorted feature list — the suffix IS
    // v.i >= u.i because bkts sort ascending with the intercept last)
    // instead of a nested interpreted-HOF lambda: pair-for-pair
    // identical keys and rounding, ~|f|²/2 rows either way, but
    // whole-stage-codegen'd (the round-7 interpreted-lambda lesson
    // applied to the classifier's hot pass).
    // Both branches recompute p/f from the (checkpointed) feats — at
    // scale recomputing a projection beats materializing a per-doc
    // array column.
    val withF = feats
      .withColumn("p", probExpr(weightsFp, biasFp))
      .withColumn("s", col("p") * (lit(1.0) - col("p")))
      .withColumn("f", featArr(dim))
    val pairs = withF
      .select(col("s"), posexplode(col("f")).as(Seq("pos", "u")), col("f"))
      .select(col("s"), col("u"),
        explode(slice(col("f"), col("pos") + 1, size(col("f")) - col("pos")))
          .as("v"))
      .select(
        (col("u.i") * (dim + 2) + col("v.i")).as("k"),
        round(col("s") * col("u.x") * col("v.x") * lit(Scale.toDouble))
          .cast("long").as("c"))
    val grads = withF
      .select(col("y"), col("p"), explode(col("f")).as("u"))
      .select((col("u.i") * -1L - 1L).as("k"),
        round((col("y") - col("p")) * col("u.x") * lit(Scale.toDouble))
          .cast("long").as("c"))
    pairs.unionByName(grads)
      .groupBy(col("k")).agg(sum(col("c")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Fixed-order in-place Cholesky solve of the SPD system A x = b —
    * deterministic double arithmetic over exactly-reproducible integer
    * inputs, identical on every driver. */
  private[ops] def choleskySolve(a: Array[Array[Double]], b: Array[Double]): Array[Double] =
    choleskySolveWith(choleskyFactor(a), b)

  /** The L factor alone — split out so a FIXED system matrix (the
    * multiclass Bohning-Lindsay curvature, constant across classes and
    * iterations) is factorized once and re-solved many times; the
    * split is bit-identical to the fused form (same operations, same
    * order). Does not mutate `a`. */
  private[ops] def choleskyFactor(a: Array[Array[Double]]): Array[Array[Double]] = {
    val m = a.length
    val l = Array.ofDim[Double](m, m)
    for (i <- 0 until m; j <- 0 to i) {
      var sum = a(i)(j)
      for (k <- 0 until j) sum -= l(i)(k) * l(j)(k)
      if (i == j) l(i)(i) = math.sqrt(sum)
      else l(i)(j) = sum / l(j)(j)
    }
    l
  }

  private[ops] def choleskySolveWith(l: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val m = b.length
    val yv = new Array[Double](m)
    for (i <- 0 until m) {
      var sum = b(i)
      for (k <- 0 until i) sum -= l(i)(k) * yv(k)
      yv(i) = sum / l(i)(i)
    }
    val x = new Array[Double](m)
    for (i <- m - 1 to 0 by -1) {
      var sum = yv(i)
      for (k <- i + 1 until m) sum -= l(k)(i) * x(k)
      x(i) = sum / l(i)(i)
    }
    x
  }

  /** Distributed IRLS training of the quality classifier. `labelExpr`
    * marks the positive (high-quality / in-domain) class — e.g.
    * membership in a trusted reference corpus. `ridge` is the L2
    * penalty added to the Newton system's diagonal (stabilizes
    * separable/rank-deficient fits; the returned model is the
    * penalized MLE). Deterministic: a pure function of the corpus at
    * any partitioning. */
  def trainQuality(df: DataFrame, labelExpr: Column, idCol: String = "doc_id",
      textCol: String = "text", dim: Int = 64, iters: Int = 6,
      ridge: Double = 1e-5): LogisticModel = {
    require(iters >= 1 && iters <= 50, s"bad iters=$iters")
    // Conditionally spread the corpus BEFORE featurizing (see
    // [[spread]]): the exchange must sit BELOW the featurize
    // projection (repartitioning the projection's output would still
    // compute it one-task), and the checkpoint inherits the spread for
    // all 1 + iters statistics scans.
    val feats = hashedDocFeatures(spread(df), labelExpr, idCol, textCol, dim)
      .localCheckpoint(true)
    val nDocs = feats.count()
    require(nDocs > 0, "empty corpus")
    val w = Array.fill(dim)(0L)
    var bias = 0L
    val m = dim + 1
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val stats = irlsStats(feats, w, bias, dim)
      val a = Array.ofDim[Double](m, m)
      val g = new Array[Double](m)
      for (i <- 0 until m) {
        g(i) = stats.getOrElse(-i - 1L, 0L).toDouble / Scale
        for (j <- i until m) {
          val v = stats.getOrElse(i.toLong * (dim + 2) + j, 0L).toDouble / Scale
          a(i)(j) = v; a(j)(i) = v
        }
        a(i)(i) += ridge * nDocs
      }
      // Newton step: (X'SX + ridge*N*I) d = X'(y-p) - ridge*N*w; the
      // current weights enter the gradient so the fixed point is the
      // penalized MLE, not a drifting target.
      for (i <- 0 until dim) g(i) -= ridge * nDocs * (w(i).toDouble / Scale)
      g(dim) -= ridge * nDocs * (bias.toDouble / Scale)
      val d = choleskySolve(a, g)
      def fp(x: Double): Long =
        BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      var moved = false
      for (i <- 0 until dim) {
        val dw = fp(d(i) * Scale)
        if (dw != 0L) moved = true
        w(i) += dw
      }
      val db = fp(d(dim) * Scale)
      if (db != 0L) moved = true
      bias += db
      // Deterministic early stop at the EXACT fixed point: once every
      // fixed-point delta rounds to zero, the weights are unchanged, so
      // the next iteration recomputes the identical sufficient
      // statistics and steps zero again — the fixed point is ABSORBING
      // and every remaining iteration is a priced no-op (one full stats
      // scan + driver round-trip each). Stopping here is bit-identical
      // to running all `iters` rounds (ClassifierSpec asserts it).
      // MEASURED LIMIT (round 12, the honest negative finding): on the
      // declared fixtures this never fires — the quantized trajectory
      // jitters at the rounding floor (per-iteration L1 delta settles
      // at ~400-4000 of ~10^6-unit weights from iteration ~6 and stays
      // nonzero through 50; rounding feedback, not divergence), so the
      // t31/t32 iteration budgets are real cost, priced in SCALE.md. A
      // tolerance-based stop would cut them but change the trajectory
      // and break the pinned w_hash — deliberately not taken. The
      // exact stop stays: it is free, and it does fire on degenerate
      // inputs (label-symmetric corpora cancel the gradient exactly).
      converged = !moved
      it += 1
    }
    LogisticModel(dim, w, bias)
  }

  /** Apply a trained model: `(id, y, score_fp, pred)` per document,
    * `score_fp = round(sigmoid(margin) * 2^20)` and `pred` the 0.5
    * threshold. Pure projection — the 100 TB filter pass is
    * scan-bound. */
  def scoreQuality(df: DataFrame, model: LogisticModel, labelExpr: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hashedDocFeatures(df, labelExpr, idCol, textCol, model.dim)
      .withColumn("score_fp",
        round(probExpr(model.weightsFp, model.biasFp) * lit(Scale.toDouble))
          .cast("long"))
      .select(col("id"), col("y"), col("score_fp"),
        (col("score_fp") * 2L >= lit(Scale)).as("pred"))

  /** Train-and-score in one call, reduced to the one-row deterministic
    * summary the pinned DuckDB oracle checks (the t26/t28 pattern):
    * document count, predicted positives, agreement with the training
    * label, total score mass, and a rolling hash of the weight vector
    * (order-sensitive — any drift in any weight moves it). */
  def qualitySummary(df: DataFrame, labelExpr: Column, idCol: String = "doc_id",
      textCol: String = "text", dim: Int = 64, iters: Int = 6,
      ridge: Double = 1e-5): DataFrame =
    modelSummary(df,
      trainQuality(df, labelExpr, idCol, textCol, dim, iters, ridge),
      labelExpr, idCol, textCol)

  /** The scoring-summary half of [[qualitySummary]] for an
    * ALREADY-trained model (in-memory or [[loadModel]]-loaded): one
    * fixed-point scoring pass + the bounded five-column summary. The
    * train-once / serve-everywhere split: t31 verifies the persisted
    * model artifact through this, the build itself is its own timed
    * phase (the n01 graph-build pattern). */
  def modelSummary(df: DataFrame, model: LogisticModel, labelExpr: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val wHash = (model.weightsFp :+ model.biasFp)
      .foldLeft(17L)((h, x) => h * 31L + x)
    scoreQuality(df, model, labelExpr, idCol, textCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred"), 1L).otherwise(0L)).as("n_pred_pos"),
        sum(when(col("pred") === (col("y") === 1L), 1L).otherwise(0L))
          .as("n_agree"),
        sum(col("score_fp")).as("score_mass"))
      .withColumn("w_hash", lit(wHash))
  }

  /** Persists a trained model as a tiny parquet artifact: one row per
    * coordinate (`idx` in [0, dim] with the intercept at `dim`,
    * `w_fp`). Fixed-point Longs round-trip parquet exactly, so a
    * loaded model scores bit-identically to the in-memory one
    * (ClassifierSpec-asserted) — the train-once / serve-everywhere
    * lifecycle (s14/d15 pattern): the filter fleet loads weights, it
    * never retrains. */
  def saveModel(spark: org.apache.spark.sql.SparkSession,
      model: LogisticModel, path: String): Unit = {
    import spark.implicits._
    ((0 until model.dim).map(i => (i, model.weightsFp(i))) :+
      ((model.dim, model.biasFp)))
      .toDF("idx", "w_fp")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Loads a [[saveModel]] artifact. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): LogisticModel = {
    val rows = spark.read.parquet(path).orderBy("idx").collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    val dim = rows.length - 1
    // nonEmpty first: an empty artifact gives dim = -1 and the index
    // comparison (two empty sequences) would pass vacuously, deferring
    // the failure to an opaque out-of-bounds below.
    require(rows.nonEmpty && rows.map(_._1).sameElements(0 to dim),
      s"corrupt model at $path")
    LogisticModel(dim, rows.take(dim).map(_._2), rows(dim)._2)
  }

  // -------- Multiclass (one-vs-rest, shared bounded curvature) --------

  /** One-vs-rest multiclass model: per-class weight vectors + biases
    * over a shared hashed feature space, prediction by first-position
    * argmax of the per-class margins. */
  final case class MulticlassModel(dim: Int, classes: Seq[String],
      weightsFp: Seq[Array[Long]], biasFp: Seq[Long]) {
    require(classes.nonEmpty && weightsFp.size == classes.size &&
      biasFp.size == classes.size, "per-class weights required")
  }

  /** [[hashedDocFeatures]] with an integer CLASS label: `lab` = index
    * of `labelExpr`'s value in `classes` (-1 if absent — scored but
    * never counted as agreement). */
  private[graft] def featurizeLab(df: DataFrame, labelExpr: Column,
      classes: Seq[String], idCol: String, textCol: String,
      dim: Int): DataFrame = {
    // One labelExpr evaluation per row: the when-chain form referenced
    // labelExpr once PER CLASS, and when the label is itself a heavy
    // derived expression (t32 passes languageId's pred_lang CASE,
    // which CollapseProject inlines), each reference re-ran it.
    // array_position over the class-list literal is value-identical:
    // first-match index (classes are distinct), 0 when absent, null
    // only for a null label — both map to -1 exactly as the chain's
    // fallthrough did.
    val lab = (coalesce(
      array_position(typedlit(classes.toIndexedSeq), labelExpr), lit(0L))
      - 1L).cast("int")
    val toks = TextAnalysis.tokens(col(textCol))
    df.select(
      col(idCol).as("id"), lab.as("lab"),
      packedFeatureCols(toks, dim))
  }

  /** The fixed curvature matrix's sufficient statistics, X'X/4 —
    * class- and iteration-independent (Bohning & Lindsay's uniform
    * bound p(1-p) <= 1/4), so it is computed by ONE scan for the whole
    * multiclass training run. Same key scheme as [[irlsStats]]'s upper
    * triangle. */
  private def curvatureStats(feats: DataFrame, dim: Int): Map[Long, Long] = {
    // Codegen'd posexplode+slice pair stream (see [[irlsStats]]) —
    // pair-for-pair identical to the nested-HOF form it replaces.
    feats.withColumn("f", featArr(dim))
      .select(posexplode(col("f")).as(Seq("pos", "u")), col("f"))
      .select(col("u"),
        explode(slice(col("f"), col("pos") + 1, size(col("f")) - col("pos")))
          .as("v"))
      .select(
        (col("u.i") * (dim + 2) + col("v.i")).as("k"),
        round(lit(0.25) * col("u.x") * col("v.x") * lit(Scale.toDouble))
          .cast("long").as("c"))
      .groupBy(col("k")).agg(sum(col("c")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** ALL classes' gradients X'(y_c - p_c) in ONE scan: per class, a
    * margin/p column from the current weights, then per-feature
    * fixed-point contributions keyed (class, index). Shuffle bounded
    * by |classes| * (dim+1) keys per partition. */
  private def multiGradStats(feats: DataFrame, classes: Seq[String],
      w: Seq[Array[Long]], b: Seq[Long], dim: Int): Map[(Int, Long), Long] = {
    // One codegen'd explode of the feature list with |classes| SUM
    // AGGREGATES per feature key, replacing the per-class
    // interpreted-lambda struct stream (|classes|x fewer generated
    // rows, identical per-(doc,feature,class) rounding, one
    // (dim+1)-key shuffle carrying |classes| columns).
    var df = feats.withColumn("f", featArr(dim))
    for (c <- classes.indices)
      df = df.withColumn(s"p$c", probExpr(w(c), b(c)))
    val ex = df.select(
      (col("lab") +: classes.indices.map(c => col(s"p$c")) :+
        explode(col("f")).as("u")): _*)
    val aggs = classes.indices.map { c =>
      sum(round((when(col("lab") === c, lit(1.0)).otherwise(lit(0.0)) - col(s"p$c"))
        * col("u.x") * lit(Scale.toDouble)).cast("long")).as(s"g$c")
    }
    ex.groupBy(col("u.i").as("k"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().flatMap { r =>
        val k = r.getLong(0)
        classes.indices.map(c => (c, k) -> r.getLong(c + 1))
      }.toMap
  }

  /** One-vs-rest multiclass training with the Bohning-Lindsay bounded
    * curvature method: the Newton Hessian is replaced by the uniform
    * bound X'X/4 + ridge*N*I — computed ONCE (one scan) and shared by
    * every class and every iteration — and each iteration is then a
    * single light gradient scan for ALL classes (monotone convergence
    * guaranteed by the curvature bound; ~10 iterations reach argmax
    * stability where exact per-class Newton would need a k^2 stats
    * scan per class per iteration). At 100 TB: 1 + iters scans total
    * regardless of |classes|, shuffles bounded by dim^2 (once) and
    * |classes|*(dim+1) (per iteration), driver state O(dim^2). Fully
    * fixed-point deterministic, like the binary trainer. */
  def trainMulticlass(df: DataFrame, labelExpr: Column, classes: Seq[String],
      idCol: String = "doc_id", textCol: String = "text", dim: Int = 64,
      iters: Int = 12, ridge: Double = 1e-5): MulticlassModel = {
    require(iters >= 1 && iters <= 100, s"bad iters=$iters")
    // Train on the LABELED subset only: a doc whose label is outside
    // `classes` (lab = -1) has no one-vs-rest target — without this
    // filter it would act as a universal negative for every class and
    // drag all weights toward the unlabeled mass. (Scoring paths still
    // featurize the full corpus; on a corpus whose labels all fall in
    // `classes` — the declared t32 — the filter is a no-op.)
    // Same conditional pre-featurize spread as [[trainQuality]] — the
    // featurize pass and every gradient scan are one-task-bound on a
    // few-split source otherwise.
    val feats = featurizeLab(spread(df), labelExpr, classes, idCol, textCol, dim)
      .filter(col("lab") >= 0)
      .localCheckpoint(true)
    val nDocs = feats.count()
    require(nDocs > 0, "no documents labeled with any of the given classes")
    val m = dim + 1
    val curv = curvatureStats(feats, dim)
    val a = Array.ofDim[Double](m, m)
    for (i <- 0 until m) {
      for (j <- i until m) {
        val v = curv.getOrElse(i.toLong * (dim + 2) + j, 0L).toDouble / Scale
        a(i)(j) = v; a(j)(i) = v
      }
      a(i)(i) += ridge * nDocs
    }
    // The curvature matrix is constant across classes AND iterations
    // (the point of the Bohning-Lindsay bound) — factor it once; each
    // class-iteration is then a pair of triangular solves, not a fresh
    // O(m^3) factorization.
    val lFactor = choleskyFactor(a)
    val w = classes.map(_ => Array.fill(dim)(0L)).toIndexedSeq
    val b = Array.fill(classes.size)(0L)
    def fp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val grads = multiGradStats(feats, classes, w, b.toSeq, dim)
      var moved = false
      for (c <- classes.indices) {
        val g = new Array[Double](m)
        for (i <- 0 until m) {
          g(i) = grads.getOrElse((c, i.toLong), 0L).toDouble / Scale -
            ridge * nDocs * ((if (i < dim) w(c)(i) else b(c)).toDouble / Scale)
        }
        val d = choleskySolveWith(lFactor, g)
        for (i <- 0 until dim) {
          val dw = fp(d(i) * Scale)
          if (dw != 0L) moved = true
          w(c)(i) += dw
        }
        val db = fp(d(dim) * Scale)
        if (db != 0L) moved = true
        b(c) += db
      }
      // Same exact-fixed-point early stop as [[trainQuality]] (and the
      // same measured limit — the round-12 trajectory audit shows the
      // Bohning-Lindsay fit still genuinely contracting at its
      // 12-iteration budget, L1 delta 45481 units at iteration 12 on
      // the sf0.001 fixture, so the budget is real work, not padding).
      converged = !moved
      it += 1
    }
    MulticlassModel(dim, classes, w.map(_.clone()), b.toSeq)
  }

  /** Apply a multiclass model: `(id, lab, pred, score_fp)` with `pred`
    * the first-position argmax class index of the per-class MARGINS
    * (ties to the lowest index — `array_position` semantics) and
    * `score_fp` the winning fixed-point margin. Margins, not sigmoid
    * probabilities: the sigmoid saturates, so distinct well-classified
    * margins collide at 2^-20 resolution and break near-boundary
    * argmaxes to the wrong low-index class; the margin keeps full
    * resolution at every operating point (same ordering — sigmoid is
    * monotone). Pure projection. */
  def scoreMulticlass(df: DataFrame, model: MulticlassModel, labelExpr: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val feats = featurizeLab(df, labelExpr, model.classes, idCol, textCol, model.dim)
    val scores = array(model.classes.indices.map { c =>
      round(marginExpr(model.weightsFp(c), model.biasFp(c)) * lit(Scale.toDouble))
        .cast("long")
    }: _*)
    feats.withColumn("scores", scores)
      .select(col("id"), col("lab"),
        (array_position(col("scores"), array_max(col("scores"))) - 1)
          .cast("int").as("pred"),
        array_max(col("scores")).as("score_fp"))
  }

  /** Train-and-score multiclass, reduced to the one-row pinned
    * summary: document count, label agreement, a rolling hash of the
    * per-class predicted counts (class order), and a rolling hash of
    * every weight (any drift anywhere moves it). */
  def multiclassSummary(df: DataFrame, labelExpr: Column, classes: Seq[String],
      idCol: String = "doc_id", textCol: String = "text", dim: Int = 64,
      iters: Int = 12, ridge: Double = 1e-5): DataFrame = {
    val model = trainMulticlass(df, labelExpr, classes, idCol, textCol, dim, iters, ridge)
    val wHash = model.weightsFp.zip(model.biasFp)
      .flatMap { case (ws, bs) => ws :+ bs }
      .foldLeft(17L)((h, x) => h * 31L + x)
    // Same conditional pre-compute spread as the trainers: the scoring
    // pass (5 margin kernels per row) would otherwise run on a
    // few-split source's task count.
    val scored = scoreMulticlass(spread(df), model, labelExpr, idCol, textCol)
      .localCheckpoint()
    val predCounts = scored.groupBy("pred").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val predHash = model.classes.indices
      .map(c => predCounts.getOrElse(c, 0L))
      .foldLeft(17L)((h, x) => h * 31L + x)
    scored.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("lab"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("pred_hash", lit(predHash))
      .withColumn("w_hash", lit(wHash))
  }

  /** Confusion matrix — the per-class error report any shipped
    * classifier (langid, quality gate, domain router) is graded by:
    * one row per observed (truth, predicted) pair with its count and
    * the exact 2⁻²⁰ fixed-point row share `n · 2²⁰ div row_total`
    * (share of the TRUTH class routed to each prediction — the recall
    * diagonal / leakage off-diagonal view; integer arithmetic only,
    * the t50/t53 discipline). Pairs that never occur are absent, not
    * zero-filled — the frame stays |observed pairs|-sized, never
    * |classes|², and downstream pivots can zero-fill if they want the
    * dense matrix.
    *
    * Scale shape: ONE partial-agg'd groupBy on the (truth, pred) pair
    * key — classes-squared-bounded output regardless of corpus size —
    * plus a truth-keyed second partial agg for row totals joined back
    * on the classes-sized frame. Nothing else moves. No reference
    * analog (vectors-only, `NND.scala:62-66`); extends the §2.9
    * classifier family. */
  def confusionMatrix(df: DataFrame, truthCol: String,
      predCol: String): DataFrame = {
    val pairs = df.groupBy(col(truthCol).as("truth"),
        col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("truth").agg(sum(col("n")).as("row_total"))
      .withColumnRenamed("truth", "__truth")
    // Null-safe equality: a NULL truth class (an unlabeled row is still
    // an observed class here) must keep its (truth, pred) rows — a plain
    // equi-join would silently drop the whole NULL-truth group.
    pairs.join(totals, pairs("truth") <=> totals("__truth"))
      .select(col("truth"), col("pred"), col("n"), col("row_total"),
        org.apache.spark.sql.functions.expr(
          "(n div row_total) * 1048576 + ((n % row_total) * 1048576) div row_total")
          .as("row_share_fp"))
  }
}
