package graft

import graft.operators.{Decontaminate, QualityRules}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class QualitySpec extends AnyFunSuite with WallBudget {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Independent (non-Spark) reimplementation of the split hash so the
    * test classifies doc_ids without going through the code under test. */
  private def splitOf(id: Long, salt: String, trainUpto: Int, valUpto: Int): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt:$id".getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    if (h < f"$trainUpto%02x") "train" else if (h < f"$valUpto%02x") "val" else "test"
  }

  test("stupid-backoff trigram LM: hand-computed goldens on every arm + corpus non-vacuity") {
    import graft.operators.NgramLm
    // TRAIN half = even doc_ids {0: "a b c a b c", 2: "a b d"}:
    //   uni a:3 b:3 c:2 d:1 (N=9); bi "a b":3 "b c":2 "c a":1 "b d":1;
    //   tri "a b c":2 "b c a":1 "c a b":1 "a b d":1
    val docs = Seq(
      (0L, "a b c a b c", "en", "s"),
      (2L, "a b d", "en", "s"),
      (1L, "b a b", "en", "s"), // trigram unseen, bigram "a b" seen -> arm 2
      (3L, "d d d", "en", "s"), // bigram unseen, unigram d seen     -> arm 3
      (5L, "x y z", "en", "s")  // everything unseen                 -> arm 4
    ).toDF("doc_id", "text", "lang", "source")
    val r = NgramLm.backoffScore(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_trigrams"), x.getAs[Long]("n_backoff"),
         x.getAs[Long]("total_mbits"), x.getAs[Long]("mean_mbits"))).toMap
    // doc 0 self-score: (a,b,c)=0, (b,c,a)=1000, (c,a,b)=0, (a,b,c)=0
    assert(r(0L) === ((4L, 0L, 1000L, 250L)))
    // doc 2 self-score: (a,b,d): fl2(c("a b")=3)-fl2(1) = 1000
    assert(r(2L) === ((1L, 0L, 1000L, 1000L)))
    // arm 2: 1322 + (fl2(c(a)=3) - fl2(c("a b")=3))*1000 = 1322
    assert(r(1L) === ((1L, 1L, 1322L, 1322L)))
    // arm 3: 2644 + (fl2(9) - fl2(1))*1000 = 5644
    assert(r(3L) === ((1L, 1L, 5644L, 5644L)))
    // arm 4 (unseen word): 2644 + fl2(9)*1000 = 5644
    assert(r(5L) === ((1L, 1L, 5644L, 5644L)))
    // the corpus split genuinely exercises backoff (odd docs contain
    // trigrams the even half never saw)
    val corpus = NgramLm.backoffScore(graft.Tables.documents(spark, TestSpark.Sf))
    assert(corpus.filter(org.apache.spark.sql.functions.col("n_backoff") > 0).count() > 0)
  }

  test("bigram LM surprisal: hand-computed integer floor-log2 bits") {
    // bigrams: "a b" ×2 (docs 1, 2), "a c" ×1 (doc 3) → c1(a) = 3.
    // floor(log2): c1(a)=1, c2("a b")=1, c2("a c")=0
    // bits("a b") = 0, bits("a c") = 1; doc 4 has 1 token → no row.
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = graft.operators.NgramLm.surprisal(docs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 1L, 0L, 0L), (2L, 1L, 0L, 0L), (3L, 1L, 1L, 1000L)))
  }

  test("DSIR importance: target-slice features weigh 0, raw-only features -1") {
    // disjoint grams per doc ⇒ each bucket holds one gram (no md5
    // collision for these literals — deterministic). en doc: every
    // feature has c_tgt = c_raw = 1 ⇒ w = fl2(2) - fl2(2) = 0.
    // de doc: c_tgt = 0, c_raw = 1 ⇒ w = fl2(1) - fl2(2) = -1.
    val docs = Seq((1L, "aa bb", "en"), (2L, "cc dd", "de"))
      .toDF("doc_id", "text", "lang")
    val out = graft.operators.Dsir.importance(docs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 3L, 0L, 0L), (2L, 3L, -3L, -1000L)))
  }

  test("LM quality tiers: exact tercile cuts re-derived independently") {
    import graft.operators.NgramLm
    val docs = Tables.documents(spark, TestSpark.Sf)
    val scores = NgramLm.surprisal(docs)
      .select($"doc_id", $"bits_x1000").as[(Long, Long)].collect()
    // independent boundary derivation from the sorted score multiset
    val sorted = scores.map(_._2).sorted
    val n = sorted.length
    def cut(t: Int) = sorted((n * t + 2) / 3 - 1) // value at rank ceil(t*n/3)
    val (b1, b2) = (cut(1), cut(2))
    val expected = scores.map { case (id, v) =>
      id -> (if (v <= b1) 0L else if (v <= b2) 1L else 2L)
    }.toMap
    val got = NgramLm.qualityTiers(docs)
      .select($"doc_id", $"tier").as[(Long, Long)].collect().toMap
    assert(got === expected)
    // all three tiers are populated at this corpus size
    assert(got.values.toSet === Set(0L, 1L, 2L))
  }

  test("contamination flags exactly the train docs sharing a shingle with held-out docs") {
    val (trainUpto, valUpto, salt) = (230, 243, "split1")
    val ids = (1L to 60L)
    val trainIds = ids.filter(splitOf(_, salt, trainUpto, valUpto) == "train")
    val heldIds = ids.filter(splitOf(_, salt, trainUpto, valUpto) != "train")
    assert(trainIds.size >= 2 && heldIds.nonEmpty)
    val (t1, t2, e1) = (trainIds.head, trainIds(1), heldIds.head)
    // t1 shares exactly the shingle "alpha beta gamma" with held-out e1;
    // t2 shares nothing
    val docs = Seq(
      (t1, "alpha beta gamma delta"),
      (t2, "uno dos tres quatro"),
      (e1, "zz alpha beta gamma yy"),
    ).toDF("doc_id", "text")
    val out = Decontaminate.contamination(docs, trainUpto, valUpto, salt)
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, n, c) => id -> ((n, c)) }.toMap
    assert(out.keySet === Set(t1, t2)) // held-out docs are not rows
    assert(out(t1) === ((1L, true)))
    assert(out(t2) === ((0L, false)))
  }

  test("fractional decontamination keeps low-overlap docs that binary contamination drops") {
    val (trainUpto, valUpto, salt) = (230, 243, "split1")
    val ids = (1L to 80L)
    val trainIds = ids.filter(splitOf(_, salt, trainUpto, valUpto) == "train")
    val heldIds = ids.filter(splitOf(_, salt, trainUpto, valUpto) != "train")
    val (lo, hi, e1) = (trainIds.head, trainIds(1), heldIds.head)
    // lo: 22 tokens = 20 shingles, 1 shared ("alpha beta gamma") → 5% < 10% → keep
    // hi: 5 tokens = 3 shingles, 1 shared → 33% → drop
    val loText = "alpha beta gamma " + (1 to 19).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (lo, loText),
      (hi, "alpha beta gamma delta eps"),
      (e1, "xx alpha beta gamma yy")).toDF("doc_id", "text")
    val frac = Decontaminate.contaminationFraction(docs, trainUpto, valUpto, salt)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(frac(lo) === ((lo, 20L, 1L, true)))
    assert(frac(hi) === ((hi, 3L, 1L, false)))
    // binary contamination flags BOTH
    val bin = Decontaminate.contamination(docs, trainUpto, valUpto, salt)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(bin(lo) && bin(hi))
  }

  test("repetition stats: hand-computed fractions on a known doc") {
    // toks = [a, a, a, b]: s2 = [a a, a a, a b] -> dup 1/3; s3 = [a a a,
    // a a b] -> dup 0; top token a = 3/4
    val docs = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val r = QualityRules.repetitionStats(docs)
      .as[(Long, Int, Double, Double, Double)].head()
    assert(r === ((1L, 4, 0.3333, 0.0, 0.75)))
  }

  test("C4 gates: each augmentation trips exactly its gate") {
    // ids chosen so each hits one suffix: 3 → terminal punct (keep),
    // 7 → brace, 11 → lorem, 13 → policy, 1 → nothing (no terminal punct)
    val docs = Seq(3L, 7L, 11L, 13L, 1L)
      .map(id => (id, "plain words without any punctuation at all"))
      .toDF("doc_id", "text")
    val r = QualityRules.c4Rules(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(3L).getBoolean(1) && r(3L).getBoolean(7)) // ends_punct → keep
    assert(r(7L).getBoolean(2) && !r(7L).getBoolean(7)) // brace kills
    assert(r(11L).getBoolean(3) && !r(11L).getBoolean(7))
    assert(r(13L).getBoolean(4) && !r(13L).getBoolean(7))
    assert(!r(1L).getBoolean(1) && !r(1L).getBoolean(7)) // no terminal punct
    assert(r(3L).getInt(5) === 2) // '. Done.' carries two dots
  }

  test("gopher verdict: a clean long doc keeps; repetition and shortness reject") {
    val clean = (1 to 40).map(i => s"word$i the").mkString(" ") // 80 toks, 'the' x40... too top-heavy
    val good = ((1 to 35).map(i => s"alpha$i beta$i").mkString(" ") + " the is and of") // unique pairs + stopwords
    val short = "tiny the is doc of"
    val repet = (("spam words the is " * 20)).trim // heavy 2-gram repetition
    val docs = Seq((1L, good), (2L, short), (3L, repet)).toDF("doc_id", "text")
    val out = QualityRules.gopherKeep(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    assert(out(1L) === true, s"clean doc rejected: ${QualityRules.gopherKeep(docs).filter($"doc_id" === 1).collect().mkString}")
    assert(out(2L) === false) // fails g_words
    assert(out(3L) === false) // fails g_rep2/g_top
    assert(clean.nonEmpty)
  }

  test("repetition stats: fully unique doc scores zero duplication") {
    val docs = Seq((1L, "one two three four five")).toDF("doc_id", "text")
    val r = QualityRules.repetitionStats(docs)
      .as[(Long, Int, Double, Double, Double)].head()
    assert(r === ((1L, 5, 0.0, 0.0, 0.2)))
  }

  test("hashed classifier: score = independent md5 recomputation; empty doc = 0") {
    // non-Spark reimplementation of bucket+weight over uni+bigrams
    def weightOf(gram: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(13)
      val bucket = java.lang.Long.parseLong(hex, 16) % 1024L
      bucket * 2654435761L % 2003L - 1001L
    }
    val text = "alpha beta gamma"
    val expected = Seq("alpha", "beta", "gamma", "alpha beta", "beta gamma")
      .map(weightOf).sum
    val out = QualityRules.hashedClassifier(
      Seq((1L, text), (2L, "...")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 5L, expected, expected >= 0)))
    assert(out(2L) === ((2L, 0L, 0L, true))) // punctuation-only doc: no features
  }

  test("materialized verdict lake serves the identical v3 manifest; gates are narrow tables") {
    // r12: the production form the pin scaladocs prescribe — each gate
    // verdict persisted once as a parquet table, the manifest assembled
    // from the tables. Must be row-identical to the pinned t_pipeline3.
    import graft.queries.Training
    val dset = Tables.documents(spark, TestSpark.Sf)
    val dir = java.nio.file.Files.createTempDirectory("verdict-lake").toString
    Training.materializeVerdicts(dset, dir)
    val names = Training.GateNames
    names.foreach { n =>
      assert(new java.io.File(s"$dir/$n").isDirectory, s"stage table $n missing")
      // gate tables are text-free: doc_id + one verdict/count column
      val cols = spark.read.parquet(s"$dir/$n").columns.toSet
      assert(cols.contains("doc_id") && cols.size === 2 && !cols.contains("text"),
        s"stage $n must be a narrow verdict table, got $cols")
    }
    val lake = Training.manifestFromLake(spark, dset, dir)
    val pinned = SparkEntry.queries("t_pipeline3")(spark, TestSpark.Sf)
    assert(lake.count() === pinned.count())
    assert(lake.except(pinned).count() === 0)
    assert(pinned.except(lake).count() === 0)
    // the lake manifest's gates are plain parquet reads — no pinned RDDs
    val plan = lake.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"),
      s"lake manifest must read tables, not memory pins:\n$plan")
    // re-materializing is a per-stage overwrite (restart-safe): the
    // manifest re-served afterwards is unchanged
    Training.materializeVerdicts(dset, dir)
    val again = Training.manifestFromLake(spark, dset, dir)
    assert(again.except(pinned).count() === 0 && pinned.except(again).count() === 0)
  }

  test("a v3 gate thunk builds its gate once: a second call returns the same DataFrame and runs no job") {
    import graft.queries.Training
    val sc = spark.sparkContext
    val gate = Training.gateVerdicts(Tables.documents(spark, TestSpark.Sf)).toMap.apply("dedup_keep")
    val jobs = new JobStarts(sc)
    try {
      sc.setJobGroup("gate-first-call", "first call")
      val first = gate()
      sc.setJobGroup("gate-second-call", "second call")
      val second = gate()
      sc.clearJobGroup()
      assert(second eq first)
      assert(jobs.where("spark.jobGroup.id", _ == "gate-first-call").nonEmpty,
        "dedup_keep's connected-components loop runs its jobs when the gate is built")
      assert(jobs.where("spark.jobGroup.id", _ == "gate-second-call").isEmpty,
        "a second call must not rebuild the gate")
    } finally { sc.clearJobGroup(); jobs.close() }
  }

  test("AUC rank arithmetic: separable 1.0, inverted 0.0, ties half-credit, mixed exact") {
    import graft.operators.QualityRules
    def auc(rows: (Long, Boolean)*): (Long, Long, Long, Double) = {
      val df = rows.toSeq.toDF("score", "pos")
      val r = QualityRules.aucOf(df).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    }
    // scores are bin-quantized (64-wide), so spread values across bins
    // 2U maxes at 2*n_pos*n_neg = 8 for the 2x2 case
    assert(auc((640L, true), (1280L, true), (0L, false), (-640L, false))
      === ((2L, 2L, 8L, 1.0)), "perfectly separable")
    assert(auc((0L, true), (-640L, true), (640L, false), (1280L, false))
      === ((2L, 2L, 0L, 0.0)), "perfectly inverted")
    // all four share one bin: every pair ties, AUC = 0.5 exactly
    assert(auc((1L, true), (2L, true), (3L, false), (4L, false))._4 === 0.5)
    // hand-computed mixed case: pos bins {0, 2}, neg bins {0, 1}
    // pairs: (0,0) tie=1, (0,1) lose=0, (2,0) win=2, (2,1) win=2 -> 2U=5
    val m = auc((0L, true), (128L, true), (0L, false), (64L, false))
    assert(m === ((2L, 2L, 5L, 0.625)))
  }

  test("degenerate one-class corpus: AUC and P/R/F1 are NULL, never a crash or inf") {
    import graft.operators.QualityRules
    // one class absent -> denominator zero; the guarded division must
    // yield SQL NULL (not NaN/inf/NULL-by-accident of non-ANSI mode)
    val onlyPos = Seq((640L, true), (0L, true)).toDF("score", "pos")
    val r = QualityRules.aucOf(onlyPos).head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 0L && r.isNullAt(3))
    val onlyNeg = Seq((640L, false)).toDF("score", "pos")
    assert(QualityRules.aucOf(onlyNeg).head().isNullAt(3))
    // P/R/F1 guards: an empty corpus gives tp=fp=fn=tn=0, so every
    // ratio's denominator is zero — all three must come back NULL
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    val pr = QualityRules.classifierPr(empty).head()
    assert(pr.getLong(0) === 0L && pr.getLong(1) === 0L && pr.getLong(2) === 0L)
    assert(pr.isNullAt(4) && pr.isNullAt(5) && pr.isNullAt(6),
      "all three ratios must be NULL on an empty confusion matrix")
  }

  /** Independent (non-Spark) mini-batch perceptron over the same
    * hashed-gram feature space — the test's own sequential
    * reimplementation, so the engine's join/aggregate formulation is
    * checked against first-principles code rather than against itself. */
  private def perceptronRef(data: Seq[(Long, String, Boolean)], epochs: Int,
      batches: Int): Map[Long, Long] = {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucketOf(g: String): Long = java.lang.Long.parseLong(md5hex(g).take(13), 16) % 1024L
    val feats: Seq[(Long, Long, Long, Long)] = data.flatMap { case (id, text, pos) =>
      val toks = text.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
        .split(" +").filter(_.nonEmpty).toSeq
      val grams = toks ++ toks.indices.dropRight(1).map(i => s"${toks(i)} ${toks(i + 1)}")
      val y = if (pos) 1L else -1L
      grams.groupBy(bucketOf).map { case (b, gs) => (id, y, b, gs.size.toLong) }.toSeq
    }
    var w: Map[Long, Long] = feats.map(_._3).distinct.map(_ -> 0L).toMap
    for (_ <- 1 to epochs; b <- 0 until batches) {
      val fb = feats.filter(_._1 % batches == b)
      val margins = fb.groupBy(f => (f._1, f._2)).map { case ((id, y), rows) =>
        (id, y, rows.map(r => r._4 * w.getOrElse(r._3, 0L)).sum) }
      val mis = margins.collect { case (id, y, m) if y * m <= 0 => id }.toSet
      val grad = fb.filter(f => mis(f._1)).groupBy(_._3).map { case (bk, rows) =>
        bk -> rows.map(r => r._2 * r._4).sum }
      w = w.map { case (bk, v) => bk -> (v + grad.getOrElse(bk, 0L)) }
    }
    w
  }

  test("mini-batch perceptron: engine weights equal the sequential " +
    "reimplementation bit-for-bit; the feature relation is pinned (<= 1 scan)") {
    import graft.operators.QualityRules
    // a separable fixture: pos docs share planted spammy grams over a
    // common background vocabulary; two hard docs mix both
    val data = Seq(
      (0L, "the cat sat on the mat win free money now", true),
      (1L, "a dog ran over the hill click here now", true),
      (2L, "the bird flew win free prize money here", true),
      (3L, "win a free prize click here for easy money", true),
      (4L, "the cat and the dog sat on a hill", false),
      (5L, "a bird and a fish swam over the mat", false),
      (6L, "the hill and the mat and the dog", false),
      (7L, "a cat a dog a bird a fish", false),
      (8L, "the cat won a prize for the best dog", false),
      (9L, "free the bird now and here", true))
    for ((epochs, batches) <- Seq((1, 1), (2, 2), (3, 4))) {
      val want = perceptronRef(data, epochs, batches)
      val df = QualityRules.perceptronTrain(
        QualityRules.perceptronFeatures(data.toDF("doc_id", "text", "pos")),
        epochs, batches)
      val got = df.as[(Long, Long)].collect().toMap
      assert(got === want, s"epochs=$epochs batches=$batches")
    }
    // the pin: training on the real corpus must tokenize it ONCE — the
    // checkpointed feature relation serves every update step (the
    // d_docsim/NgramLm discipline, counted by the one PlanAudit rule)
    val corpus = QualityRules.perceptronTrain(
      QualityRules.perceptronFeatures(
        QualityRules.plantedSpamDocs(Tables.documents(spark, TestSpark.Sf))),
      epochs = 2, miniBatches = 2)
    corpus.collect()
    val plan = corpus.queryExecution.executedPlan
    assert(PlanAudit.summarize(plan)._1 <= 1,
      s"perceptron training re-grew per-step corpus re-derivation:\n$plan")
  }

  test("perceptron eval: held-out confusion matrix is complete and the trained " +
    "model recovers the planted signal on unseen docs") {
    import graft.operators.QualityRules
    val docs = Tables.documents(spark, TestSpark.Sf)
    val r = QualityRules.perceptronEval(docs, 230, 243, "split1", 3, 4).head()
    val (tp, fp, fn, tn) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // every test-split doc with >= 1 token (after dressing) scores once
    val nTest = QualityRules.plantedSpamDocs(docs)
      .filter(graft.operators.Sampling.splitLabel(230, 243, "split1") === "test")
      .filter(graft.operators.TextOps.nTokens(col("text")) > 0)
      .count()
    assert(tp + fp + fn + tn === nTest)
    assert(tp > 0L, "the trained model must find planted positives")
    val acc = r.getDouble(4)
    // measured 1.0 (20/20) at sf0.001 — the planted signal is separable;
    // the bound leaves room for corpus regeneration, not for collapse
    assert(acc > 0.8, s"trained model should recover the planted signal, got $acc")
  }

  test("trained-model ranking + calibration: held-out AUC near-perfect on the " +
    "planted signal; reliability bins monotone with complete coverage") {
    import graft.operators.QualityRules
    val docs = Tables.documents(spark, TestSpark.Sf)
    val auc = QualityRules.perceptronAuc(docs, 230, 243, "split1", 3, 4).head()
    assert(auc.getLong(0) > 0 && auc.getLong(1) > 0)
    // measured 1.0 at sf0.001 and sf0.01 — the margins separate the
    // planted classes completely; the bound allows regeneration noise
    assert(auc.getDouble(3) > 0.8, s"trained AUC ${auc.getDouble(3)}")
    val bins = QualityRules.perceptronCalibration(docs, 230, 243, "split1", 3, 4)
      .collect().map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n"),
        r.getAs[Long]("n_pos"), r.getAs[Long]("pos_permille")))
      .sortBy(_._1)
    // bins cover every scored doc exactly once
    val nTest = QualityRules
      .perceptronTestMargins(docs, 230, 243, "split1", 3, 4).count()
    assert(bins.map(_._2).sum === nTest)
    bins.foreach { case (_, n, np, pm) =>
      assert(np <= n && pm === np * 1000 / n)
    }
    // directional calibration: the highest bin is purer than the lowest
    assert(bins.last._4 > bins.head._4,
      s"reliability not directional: ${bins.mkString(", ")}")
  }
}
