package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repetition-based quality signals (the Gopher/MassiveText family of
  * heuristics, Rae et al. 2021 §A1.1): heavily repetitive documents are
  * boilerplate/spam and get filtered before training. Signals:
  *
  *  - `dup_2gram_frac` / `dup_3gram_frac` — fraction of word n-grams that
  *    are repeats of an earlier n-gram in the same doc;
  *  - `top_token_frac` — share of the document taken by its single most
  *    frequent token.
  *
  * All ratios are integer-derived and floor-truncated to 4 decimals, so
  * the DuckDB oracle reproduces them bit-for-bit.
  *
  * Scale stance: the n-gram fractions are per-row array expressions
  * (size + array_distinct — O(L log L) in doc length, narrow codegen'd
  * scan). The top-token share deliberately does NOT use a per-row
  * O(L²) count-each-distinct-token HOF: it explodes to (doc, token)
  * rows and aggregates — two partial-agg shuffles on doc_id that hold at
  * any document length.
  */
object QualityRules {

  /** C4-style heuristic gates (Raffel et al. 2020 §2.2 family): terminal
    * punctuation, no code braces, no lorem-ipsum boilerplate, no
    * enable-javascript policy lines, a minimum word count. The synthetic
    * corpus is punctuation-free word salad, so — same pattern as
    * t_redact's PII augmentation — both engines first append a
    * deterministic doc_id-keyed suffix mix, making every gate
    * non-vacuous in both polarities. Pure codegen'd projection. */
  def c4Rules(docs: DataFrame): DataFrame = {
    val aug = concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit(". Done.")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0, lit(" {code}")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0, lit(" lorem ipsum")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(13)) === 0, lit(" javascript required")).otherwise(lit("")))
    docs.select(col("doc_id"), aug.as("aug"))
      .select(
        col("doc_id"),
        col("aug").rlike("[.!?]$").as("ends_punct"),
        col("aug").contains("{").as("has_brace"),
        col("aug").contains("lorem ipsum").as("has_lorem"),
        col("aug").contains("javascript").as("has_policy"),
        regexp_count(col("aug"), lit("\\.")).as("n_dots"),
        TextOps.nTokens(col("aug")).as("n_words"))
      .withColumn("keep",
        col("ends_punct") && !col("has_brace") && !col("has_lorem")
          && !col("has_policy") && col("n_words") >= 5)
  }

  /** Gopher-family document filter verdict: every gate is a published
    * MassiveText-style threshold over the already-oracle-checked signals
    * (word count, mean word length, stopword occurrences, duplicate
    * n-gram fractions, top-token share), plus the conjunction the
    * pipeline actually acts on. Thresholds compare floor-truncated
    * 4-decimal ratios to exact decimal literals, so the booleans are
    * bit-identical cross-engine. Domain = docs with ≥ 3 tokens (the
    * repetition-signal domain). */
  def gopherKeep(docs: DataFrame): DataFrame = {
    // r18 (guide §2.4): the word-shape columns (avg word length, stop
    // hits — per-row arithmetic over the same text) RIDE the repetition
    // pass instead of a second full corpus scan joined back on doc_id;
    // the verdict relation is identical row-for-row (the join was inner
    // on the repetition domain, so computing the shape columns only on
    // filtered rows changes nothing). repetitionStats itself stays
    // untouched — it is its own declared query (t_rep_stats).
    val tok = Spread(docs)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"),
        TextOps.avgWordLen(col("text")).as("avg_word_len"),
        TextOps.stopHits(col("text"), TextOps.Stop("en")).as("stop_hits"))
      .filter(size(col("toks")) >= 3)
    def dupFrac(sh: org.apache.spark.sql.Column) =
      TextOps.trunc(
        (size(sh) - size(array_distinct(sh))).cast("double") / size(sh), 4)
    val narrow = tok
      .withColumn("s2", TextOps.shinglesOfTokens(col("toks"), 2))
      .withColumn("s3", TextOps.shinglesOfTokens(col("toks"), 3))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        dupFrac(col("s2")).as("dup_2gram_frac"),
        dupFrac(col("s3")).as("dup_3gram_frac"),
        col("avg_word_len"), col("stop_hits"))
    val top = tok
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id").agg(max("tf").as("max_tf"))
    narrow.join(top, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        col("dup_2gram_frac"), col("dup_3gram_frac"),
        TextOps.trunc(col("max_tf").cast("double") / col("n_tokens"), 4)
          .as("top_token_frac"),
        col("avg_word_len"), col("stop_hits"))
      .select(
        col("doc_id"),
        col("n_tokens").between(30, 100000).as("g_words"),
        col("avg_word_len").between(3.0, 10.0).as("g_len"),
        (col("stop_hits") >= 2).as("g_stop"),
        (col("dup_2gram_frac") <= 0.20).as("g_rep2"),
        (col("dup_3gram_frac") <= 0.18).as("g_rep3"),
        (col("top_token_frac") <= 0.30).as("g_top"))
      .withColumn("keep",
        col("g_words") && col("g_len") && col("g_stop")
          && col("g_rep2") && col("g_rep3") && col("g_top"))
  }

  def repetitionStats(docs: DataFrame): DataFrame = {
    val tok = Spread(docs)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    def dupFrac(sh: org.apache.spark.sql.Column) =
      TextOps.trunc(
        (size(sh) - size(array_distinct(sh))).cast("double") / size(sh), 4)
    val narrow = tok
      .withColumn("s2", TextOps.shinglesOfTokens(col("toks"), 2))
      .withColumn("s3", TextOps.shinglesOfTokens(col("toks"), 3))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        dupFrac(col("s2")).as("dup_2gram_frac"),
        dupFrac(col("s3")).as("dup_3gram_frac"))
    val top = tok
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id").agg(max("tf").as("max_tf"))
    narrow.join(top, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        col("dup_2gram_frac"), col("dup_3gram_frac"),
        TextOps.trunc(col("max_tf").cast("double") / col("n_tokens"), 4)
          .as("top_token_frac"))
  }

  private def idiv(a: Column, b: Column): Column = TextOps.idiv(a, b)

  /** Unigram-distribution entropy proxy (the "gibberish vs natural text"
    * signal of the CCNet/C4 heuristic family): per document, the
    * Shannon entropy Σ p·log2(1/p) of its token distribution — recast
    * in the engine-wide exact-integer discipline as
    * `sum_bits = Σ_tok tf · floor(log2(n // tf))` (floor-log2 of the
    * floored inverse probability, `len(bin(x)) - 1` in both engines)
    * with `ent_milli = (1000·sum_bits) // n`. Near-zero for one-token
    * spam, maximal for uniform token salad; a pure function of the
    * token multiset, so aggregation order never matters. Also emits the
    * type-token ratio `ttr_milli = (1000·n_distinct) // n`.
    *
    * Plan shape: n rides the explode (no self-join for document
    * length), one (doc, n, tok) exchange with map-side combine, then a
    * doc-keyed final agg over the corpus-sublinear tf relation — the
    * t_lm_score shape without the model join. */
  def unigramEntropy(docs: DataFrame): DataFrame =
    Spread(docs)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"),
        explode(col("toks")).as("tok"))
      .groupBy("doc_id", "n", "tok").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id", "n")
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * NgramLm.fl2(idiv(col("n"), col("tf")))).as("sum_bits"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("n_distinct"),
        col("sum_bits"),
        idiv(lit(1000L) * col("sum_bits"), col("n")).as("ent_milli"),
        idiv(lit(1000L) * col("n_distinct"), col("n")).as("ttr_milli"))

  /** Feature-hash dimensionality of the linear quality classifier. */
  val ClfDim = 1024L

  /** Deterministic per-bucket weight in [-1001, 1001] — a multiply-mod
    * surrogate for trained coefficients (the PIPELINE — hash features,
    * look up a fixed weight vector, sum — is the deliverable; production
    * swaps this expression for a broadcast weight array without touching
    * the plan shape). */
  /** R13: exact AUC of the hashed classifier against the independent
    * language label (en vs rest) — the classifier-EVALUATION primitive
    * of an ablation loop (the FineWeb-Edu discipline: never ship a
    * quality scorer without a ranking metric). Scores quantize to
    * 64-wide bins FIRST, so the rank arithmetic runs on a BOUNDED
    * histogram (the weight range is ±1001 per gram and doc length is
    * capped, so the bin count is range/64 — the q_histogram
    * boundedness discipline; the one unpartitioned window is over
    * bins, never docs). AUC is then the exact Mann-Whitney U with
    * half-credit ties, all integer until the final 6-dp truncated
    * division: 2U = Σ_bins pos(b) · (2·neg_below(b) + neg_eq(b)). */
  def classifierAuc(docs: DataFrame): DataFrame = {
    val scored = hashedClassifier(docs).select(col("doc_id"), col("score"))
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("pos")), "doc_id")
    aucOf(scored)
  }

  /** The exact rank arithmetic behind [[classifierAuc]], over any
    * `(score: long, pos: boolean)` relation — factored so the spec can
    * pin the Mann-Whitney math on hand-computed cases. */
  private[graft] def aucOf(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = scored
      .groupBy(floor(col("score") / 64).cast("long").as("bin"))
      .agg(count(when(col("pos"), 1)).as("np"),
        count(when(!col("pos"), 1)).as("nn"))
    val w = Window.orderBy("bin")
    val cum = hist.withColumn("neg_below",
      coalesce(sum("nn").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    cum.agg(
      sum("np").as("n_pos"), sum("nn").as("n_neg"),
      sum(col("np") * (lit(2L) * col("neg_below") + col("nn"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        // degenerate corpus (one class absent) → AUC undefined, NULL —
        // guarded explicitly so Spark/DuckDB agree instead of relying on
        // non-ANSI NULL-on-zero vs IEEE inf behavior
        when(col("n_pos") > 0 && col("n_neg") > 0,
          TextOps.trunc(col("u2").cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  /** R13: the confusion matrix of the classifier's own keep threshold
    * (score ≥ 0) against the en label — AUC's operating-point
    * companion. Exact BIGINT counts; precision/recall/F1 are 6-dp
    * truncated divisions of exact integers (F1 via the 2tp/(2tp+fp+fn)
    * form — one division, no float intermediates). One map-side-
    * combined aggregate, no shuffle beyond it. */
  def classifierPr(docs: DataFrame): DataFrame = {
    val scored = hashedClassifier(docs).select(col("doc_id"), col("keep"))
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("pos")), "doc_id")
    scored.agg(
      count(when(col("keep") && col("pos"), 1)).as("tp"),
      count(when(col("keep") && !col("pos"), 1)).as("fp"),
      count(when(!col("keep") && col("pos"), 1)).as("fn"),
      count(when(!col("keep") && !col("pos"), 1)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        // empty-denominator operating points (no predicted positives /
        // no actual positives) → NULL, mirrored as CASE WHEN in the oracle
        when(col("tp") + col("fp") > 0,
          TextOps.trunc(col("tp").cast("double") / (col("tp") + col("fp")), 6)).as("precision"),
        when(col("tp") + col("fn") > 0,
          TextOps.trunc(col("tp").cast("double") / (col("tp") + col("fn")), 6)).as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          TextOps.trunc((lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")), 6)).as("f1"))
  }

  /** The shared feature-hash: 13 md5 hex chars (< 2^52, so the BIGINT
    * parse is exact in both engines) pmod into [[ClfDim]] buckets. */
  private def featureBucket(gram: Column): Column = pmod(
    conv(substring(md5(gram), 1, 13), 16, 10).cast("long"), lit(ClfDim))

  private def weight(gram: Column): Column =
    featureBucket(gram) * 2654435761L % 2003L - 1001L

  /** fastText-style hashed linear quality classifier (the
    * quality-lookalike scorer of the GPT-3/CCNet lineage, Brown et al.
    * 2020 appendix A): token unigrams + bigrams feature-hash into
    * [[ClfDim]] buckets; the doc's score is the exact-integer sum of its
    * features' weights; `keep` = non-negative score. Pure per-row HOF
    * arithmetic over a single scan — zero shuffle, whole-stage codegen,
    * O(doc length) per row at any corpus size. */
  def hashedClassifier(docs: DataFrame): DataFrame =
    Spread(docs)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        concat(col("toks"), TextOps.shinglesOfTokens(col("toks"), 2)).as("grams"))
      .select(
        col("doc_id"),
        size(col("grams")).cast("long").as("n_feats"),
        aggregate(col("grams"), lit(0L), (acc, g) => acc + weight(g)).as("score"))
      .withColumn("keep", col("score") >= 0)


  /** The deterministic spam phrase [[plantedSpamDocs]] appends — multi-
    * gram so the learner has to pick up a feature NEIGHBORHOOD (8
    * unigrams + 8 bigrams, one of which straddles the splice point and
    * varies per doc), shared verbatim with the DuckDB oracle. */
  val SpamPhrase = " win a free prize now click here for easy money"

  /** Deterministic LABELED corpus for the trainable classifier — the
    * c4Rules/t_redact dressing pattern: the synthetic corpus is 5-language
    * word salad over ONE closed ~31-token vocabulary (measured: every
    * language shares all 31 types), so no text-derived label separates
    * and a trained model could only ever demo 0.5 accuracy. Docs with
    * `doc_id % 3 = 0` get [[SpamPhrase]] appended and `pos = true` — a
    * genuinely learnable signal (the planted grams) carried by the text
    * itself, constructed identically in both engines. */
  def plantedSpamDocs(docs: DataFrame): DataFrame = {
    val planted = pmod(col("doc_id"), lit(3)) === 0
    docs.select(col("doc_id"),
      concat(col("text"), when(planted, lit(SpamPhrase)).otherwise(lit(""))).as("text"),
      planted.as("pos"))
  }

  /** The hashed-gram FEATURE relation `(doc_id, y, bucket, cnt)` the
    * trainable classifier runs on: token unigrams + bigrams feature-hash
    * into [[ClfDim]] buckets (the [[hashedClassifier]] feature space),
    * counted per document; the label `y` is ±1 on the caller-supplied
    * boolean `pos` column. One explode + one map-side-combined aggregate
    * on (doc_id, bucket); docs with zero tokens contribute no rows (they
    * carry no features, so they can neither move the model nor be
    * scored — stated in the oracle the same way). */
  def perceptronFeatures(labeled: DataFrame): DataFrame =
    Spread(labeled)
      .select(col("doc_id"),
        when(col("pos"), 1L).otherwise(-1L).as("y"),
        TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("y"),
        explode(concat(col("toks"), TextOps.shinglesOfTokens(col("toks"), 2))).as("gram"))
      .groupBy(col("doc_id"), col("y"), featureBucket(col("gram")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** IN-ENGINE MODEL TRAINING: the MINI-BATCH perceptron (Rosenblatt
    * 1958, in the synchronous mini-batch form distributed SGD actually
    * runs) over hashed gram features — the missing third of the
    * classifier family ([[hashedClassifier]] scores with FIXED hash
    * weights; [[classifierAuc]]/[[classifierPr]] evaluate; this LEARNS
    * the weights from labeled data). All exact BIGINT arithmetic —
    * margins are integer dot products, updates integer sums — so the
    * learned model is bit-identical across engines, partitionings, and
    * cluster layouts: a trained-on-100TB model stays auditable
    * row-for-row by an oracle.
    *
    * Update step (epoch e, mini-batch b = deterministic `doc_id % B`):
    * margin_d = Σ w[k]·cnt_dk over batch docs; docs with y·margin ≤ 0
    * are misclassified; w[k] += Σ_misclassified y_d·cnt_dk. Mini-batching
    * is what makes the relational formulation CONVERGE: the full-batch
    * update (B = 1) overshoots — on the planted-spam corpus it cycles
    * between the all-positive and all-negative models forever (measured:
    * train error oscillates 151/306 at every B=1 epoch, while B=4
    * reaches 5/457 after 3 epochs and a perfect 20/20 holdout).
    *
    * Scale shape: the MODEL is a ≤[[ClfDim]]-row relation — metadata-
    * scale — so the loop runs it as a PARAMETER SERVER (r17, guide
    * §1.2/§5): the driver holds the weight array and each synchronous
    * step is ONE aggregate job over that mini-batch's slice of the
    * feature relation — weights enter the margin sum as an O(1)
    * `element_at` array literal (no per-step broadcast build), the
    * misclassified docs' features flow straight into the bucket-keyed
    * gradient (the only rows that cross the second exchange), and the
    * ≤ClfDim-row gradient is the step's only driver round-trip — the
    * same bytes a parameter-server push moves. The r14-r16 shape
    * instead kept w as a DataFrame: 2 broadcast builds + a
    * localCheckpoint of the model PER STEP (~3 jobs/step, 36 for the
    * 12-step loop; measured sf0.1 solo 4.4 s vs 2.6 s for this form,
    * identical weights). The feature relation feeds every step, so it
    * is PINNED (`localCheckpoint`, the d_docsim/NgramLm precedent —
    * spec-pinned at ≤ 1 corpus scan): the corpus is tokenized and
    * exploded ONCE no matter how many steps the loop unrolls; a real
    * deployment materializes the text-free (doc_id, y, bucket, cnt)
    * relation as a table and trains against that. */
  def perceptronTrain(feats: DataFrame, epochs: Int = 3,
      miniBatches: Int = 4, pin: Boolean = true): DataFrame = {
    val f = if (pin) feats.localCheckpoint() else feats
    val spark = f.sparkSession
    // w0 = 0 over every bucket the training corpus touches (one
    // metadata-scale collect — ≤ ClfDim distinct values by construction)
    val buckets = f.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).sorted
    // r18 (advisor): bound by the ACTUAL hash space — featureBucket pmods
    // into [0, ClfDim), and the dense weight array plus the per-step
    // typedlit are sized by the max bucket value, so a sparse caller near
    // a loose 2^22 bound would embed a 4M-element array literal in every
    // step plan (the old relational shape was sparse; this one must not
    // silently degrade there)
    require(buckets.isEmpty || (buckets.head >= 0 && buckets.last < ClfDim),
      "perceptronTrain expects non-negative feature buckets in " +
        s"[0, $ClfDim) (the ClfDim hash space)")
    val dim = if (buckets.isEmpty) 1 else buckets.last.toInt + 1
    val w = new Array[Long](dim)
    for (_ <- 1 to epochs; b <- 0 until miniBatches) {
      // 1-indexed element_at over the step's frozen weights; every fb
      // bucket is in [0, dim) because fb ⊆ f and dim covers f's max
      val wLit = typedlit(w.toIndexedSeq)
      val fb = f.filter(pmod(col("doc_id"), lit(miniBatches.toLong)) === b)
      val grad = fb
        .groupBy("doc_id", "y")
        .agg(
          sum(col("cnt") * element_at(wLit, col("bucket").cast("int") + 1))
            .as("margin"),
          collect_list(struct(col("bucket"), col("cnt"))).as("fs"))
        .filter(col("y") * col("margin") <= 0)
        .select(col("y"), explode(col("fs")).as("f"))
        .groupBy(col("f.bucket").as("bucket"))
        .agg(sum(col("y") * col("f.cnt")).as("g"))
        .collect()
      grad.foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = buckets.toSeq.map(b =>
      org.apache.spark.sql.Row(b, w(b.toInt)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Held-out evaluation of the TRAINED model: fit on the `train` split,
    * score the `test` split (the same salted-hash split rule every other
    * operator uses, so the holdout is disjoint by construction), report
    * the confusion matrix + accuracy/P/R/F1 against the planted label.
    * Unseen-in-training buckets carry weight 0 (left join + coalesce);
    * `keep` = margin > 0. Metrics are 6-dp truncated divisions of exact
    * BIGINTs, zero denominators NULL — the [[classifierPr]] discipline. */
  /** Held-out margins of the TRAINED model — the shared scoring pass
    * behind [[perceptronEval]] (threshold metrics), [[perceptronAuc]]
    * (ranking metric), and [[perceptronCalibration]] (probability
    * faithfulness): fit on 'train', score the disjoint 'test' split,
    * return one (doc_id, pos, margin) row per scored doc. */
  def perceptronTestMargins(docs: DataFrame, trainUpto: Int, valUpto: Int,
      salt: String, epochs: Int = 3, miniBatches: Int = 4): DataFrame = {
    val labeled = plantedSpamDocs(docs)
    // r17: ONE corpus tokenize+explode serves BOTH splits — the split
    // label is a pure function of doc_id, so it attaches to the
    // aggregated feature relation (filter-before ≡ filter-after on a
    // doc_id-keyed groupBy) and the pinned relation slices both ways;
    // the previous shape ran perceptronFeatures twice (two full corpus
    // tokenizations per eval-family leg). perceptronTrain gets
    // pin = false: its 13 scans re-read this pin's blocks, not text.
    val feats = perceptronFeatures(labeled)
      .withColumn("_split",
        Sampling.splitLabelOf(col("doc_id"), trainUpto, valUpto, salt))
      .localCheckpoint()
    val w = perceptronTrain(
      feats.filter(col("_split") === "train").drop("_split"),
      epochs, miniBatches, pin = false)
    feats.filter(col("_split") === "test").drop("_split")
      .join(broadcast(w), Seq("bucket"), "left")
      .groupBy("doc_id", "y")
      .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("margin"))
      .select(col("doc_id"), (col("y") === 1L).as("pos"), col("margin"))
  }

  /** Exact Mann-Whitney AUC of the TRAINED model's held-out margins —
    * [[classifierAuc]]'s rank arithmetic over [[perceptronTestMargins]]
    * (the fixed-weight t_clf_auc is the untrained before picture). */
  def perceptronAuc(docs: DataFrame, trainUpto: Int, valUpto: Int,
      salt: String, epochs: Int = 3, miniBatches: Int = 4): DataFrame =
    aucOf(perceptronTestMargins(docs, trainUpto, valUpto, salt, epochs, miniBatches)
      .select(col("margin").as("score"), col("pos")))

  /** Reliability diagram of the trained model: held-out margins bucket
    * into clamped fixed-width bins (floor division — [[TextOps.idiv]]
    * keeps Spark's truncate-toward-zero `div` off negative margins so
    * both engines bin identically) and each bin reports its empirical
    * positive rate in exact permille. A model whose pos_permille climbs
    * with the bin is directionally calibrated; the clamp keeps the
    * relation bounded regardless of margin magnitude. */
  def perceptronCalibration(docs: DataFrame, trainUpto: Int, valUpto: Int,
      salt: String, epochs: Int = 3, miniBatches: Int = 4,
      binWidth: Long = 4096L): DataFrame =
    perceptronTestMargins(docs, trainUpto, valUpto, salt, epochs, miniBatches)
      .groupBy(greatest(least(TextOps.idiv(col("margin"), lit(binWidth)), lit(8L)),
        lit(-8L)).as("bin"))
      .agg(count(lit(1)).as("n"), count(when(col("pos"), 1)).as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("n_pos * 1000 div n").as("pos_permille"))

  def perceptronEval(docs: DataFrame, trainUpto: Int, valUpto: Int,
      salt: String, epochs: Int = 3, miniBatches: Int = 4): DataFrame = {
    val scored = perceptronTestMargins(docs, trainUpto, valUpto, salt,
        epochs, miniBatches)
      .select(col("pos"), (col("margin") > 0).as("keep"))
    scored.agg(
      count(when(col("keep") && col("pos"), 1)).as("tp"),
      count(when(col("keep") && !col("pos"), 1)).as("fp"),
      count(when(!col("keep") && col("pos"), 1)).as("fn"),
      count(when(!col("keep") && !col("pos"), 1)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") + col("fn") + col("tn") > 0,
          TextOps.trunc((col("tp") + col("tn")).cast("double") /
            (col("tp") + col("fp") + col("fn") + col("tn")), 6)).as("accuracy"),
        when(col("tp") + col("fp") > 0,
          TextOps.trunc(col("tp").cast("double") / (col("tp") + col("fp")), 6)).as("precision"),
        when(col("tp") + col("fn") > 0,
          TextOps.trunc(col("tp").cast("double") / (col("tp") + col("fn")), 6)).as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          TextOps.trunc((lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")), 6)).as("f1"))
  }

  /** R15: RHO-loss-style LEARNABILITY selection (Mindermann et al.
    * 2022, arXiv:2206.07137 — "prioritize points that are learnable,
    * worth learning, and not yet learned"): rank candidates by
    * (training loss under the CURRENT model) − (loss under an
    * independent REFERENCE model), composed from the two models the
    * engine already trains in-engine. Current-model loss is the hinge
    * on the trained perceptron's held-out margin
    * ([[perceptronTestMargins]]: `max(0, 4096 − y·margin)` — the
    * calibration bin width as the slack, so barely-classified docs
    * still carry graded loss); reference loss is the bigram-LM mean
    * surprisal ([[NgramLm.surprisal]], milli-bits). The two live on
    * different scales, so each normalizes to permille of its corpus
    * max (1-row broadcast aggregates, exact idiv on non-negative
    * operands) and `rho_milli = trainloss_pm − refloss_pm`; `selected`
    * = rho_milli > 0 — the normalized losses crossed: the current
    * model is still losing on text the reference models well.
    *
    * Scale/shape: one corpus pass per leg (both already
    * corpus-sublinear after their own aggregations), one doc_id equi
    * join, two 1-row broadcasts. All exact integers. */
  def rhoSelect(docs: DataFrame, trainUpto: Int, valUpto: Int, salt: String,
      epochs: Int = 3, miniBatches: Int = 4): DataFrame = {
    // r18c (guide §2.6): the two loss arms are INDEPENDENT until the
    // doc_id join, and both run eager Spark work at construction time —
    // the perceptron's 12 sequential SGD step jobs and the LM arm's
    // one-pass gram pin. Built serially they stacked end to end; the LM
    // pin runs as an arm beside the SGD loop on the caller's thread
    // (values unchanged: both are pure functions of `docs`).
    val (m, s) = graft.streaming.BatchArms(docs.sparkSession) { arms =>
      val lm = arms.fork("rho: LM surprisal")(
        NgramLm.surprisal(docs).select(col("doc_id"), col("bits_x1000")))
      (perceptronTestMargins(docs, trainUpto, valUpto, salt, epochs, miniBatches), lm.join())
    }
    val ym = when(col("pos"), col("margin")).otherwise(-col("margin"))
    // NOT pinned, measured: the max-normalizer aggregate and the final
    // projection both consume this relation, but its subtree ends in
    // shuffles AQE deduplicates at runtime (ReusedExchange — the t_bm25
    // precedent; invisible in static explain). A localCheckpoint here
    // was tried and measured SLOWER (solo sf0.1 7.46 s pinned vs
    // 5.24 s relying on runtime reuse): the pin splits the plan into
    // an extra materialization job without removing any work.
    val scored = m.join(s, "doc_id")
      .select(col("doc_id"), col("pos"), col("margin"), col("bits_x1000"),
        greatest(lit(0L), lit(4096L) - ym).as("tloss"))
    val mx = scored.agg(
      greatest(max("tloss"), lit(1L)).as("mt"),
      greatest(max("bits_x1000"), lit(1L)).as("mr"))
    val rho = TextOps.idiv(col("tloss") * 1000L, col("mt")) -
      TextOps.idiv(col("bits_x1000") * 1000L, col("mr"))
    scored.crossJoin(broadcast(mx))
      .select(col("doc_id"), col("pos"), col("margin"), col("bits_x1000"),
        rho.as("rho_milli"), (rho > 0L).as("selected"))
  }
}
