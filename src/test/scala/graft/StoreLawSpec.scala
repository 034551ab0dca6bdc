package graft

import graft.operators.{QualityRules, TextOps}
import graft.streaming._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The durability laws every streaming store keeps, checked once for all
  * eight stores through one table of init/serve/rows functions, over a
  * random split of a small doc slice into 2–4 batches (fixed seeds, few
  * cases):
  *
  *  1. re-serving a committed batch returns identical verdicts and
  *     leaves the data files unchanged;
  *  2. a forged half-append (an intent marker plus the orphan files of a
  *     batch that appended) is rolled back, and the run ends with the
  *     clean run's verdicts and store rows;
  *  3. a compaction or a forged mid-swap state between any two serves
  *     changes no later verdict and no stored multiset (a compaction may
  *     land while the forged half-append is still pending);
  *  4. a reset followed by a re-serve of a used batch id appends again
  *     (stale markers must not turn it into a replay).
  *
  * Each case runs the split twice on one store: a clean run (then law
  * 1), and after a reset the faulted run (laws 2-4), compared against
  * the clean run's verdicts and rows. */
class StoreLawSpec extends AnyFunSuite with WallBudget {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One store under test, keyed by its root directory. */
  private case class Store(
      name: String, slice: DataFrame,
      init: String => Unit,
      serve: (String, DataFrame, Long) => DataFrame,
      store: String => DurableStore)

  private lazy val docs = Tables.documents(spark, TestSpark.Sf).select("doc_id", "text")
  /** 20 docs plus exact copies of 8 of them (+512 keeps a synthesized
    * image bit-identical), so every store sees cross-batch duplicates. */
  private lazy val slice = docs.filter(col("doc_id") < 20).unionByName(
    docs.filter(col("doc_id") < 8).select((col("doc_id") + 512L).as("doc_id"), col("text")))
  /** The initial corpus overlaps the slice in docs 16..19. */
  private lazy val corpus = docs.filter(col("doc_id").between(16, 47))

  private def inc(d: String) = IncrementalIndex.IndexConfig(d, capacity = 10000L)
  private def near(d: String) = NearDupIndex.NearDupConfig(d)
  private def img(d: String) = ImageDupIndex.ImageDupConfig(d)
  private def aud(d: String) = AudioDupIndex.AudioDupConfig(d)
  private def vid(d: String) = VideoDupIndex.VideoDupConfig(d)
  private def sub(d: String) = SubstrIndex.SubstrConfig(d)
  private def clf(d: String) = ClfStream.ClfConfig(d)
  private lazy val budget = slice.select(sum(TextOps.nTokens(col("text")))).as[Long].head() * 2 / 5
  private def bud(d: String) = BudgetStream.BudgetConfig(d, budget)

  private lazy val stores: Seq[Store] = Seq(
    Store("incremental", slice,
      d => IncrementalIndex.init(spark, corpus, inc(d)),
      (d, b, id) => IncrementalIndex.serveBatch(spark, b, id, inc(d)), inc(_).store),
    Store("neardup", slice,
      d => NearDupIndex.init(spark, corpus, near(d)),
      (d, b, id) => NearDupIndex.serveBatch(spark, b, id, near(d)), near(_).store),
    Store("imagedup", slice,
      d => ImageDupIndex.init(spark, corpus, img(d)),
      (d, b, id) => ImageDupIndex.serveBatch(spark, b, id, img(d)), img(_).store),
    Store("audiodup", slice,
      d => AudioDupIndex.init(spark, corpus, aud(d)),
      (d, b, id) => AudioDupIndex.serveBatch(spark, b, id, aud(d)), aud(_).store),
    Store("videodup", slice,
      d => VideoDupIndex.init(spark, corpus, vid(d)),
      (d, b, id) => VideoDupIndex.serveBatch(spark, b, id, vid(d)), vid(_).store),
    Store("substr", slice,
      d => SubstrIndex.init(spark, corpus, sub(d)),
      (d, b, id) => SubstrIndex.serveBatch(spark, b, id, sub(d)), sub(_).store),
    Store("clf", QualityRules.plantedSpamDocs(slice),
      d => ClfStream.init(spark, clf(d)),
      (d, b, id) => ClfStream.serveBatch(spark, b, id, clf(d)), clf(_).store),
    Store("budget", slice,
      d => BudgetStream.init(spark, bud(d)),
      (d, b, id) => BudgetStream.serveBatch(spark, b, id, bud(d)), bud(_).store))

  /** A random split and fault schedule. `batchOf(i)` is the batch of the
    * i-th slice doc (in shuffled order; the first `n` docs seed one batch
    * each, so no batch is empty). The faulted run serves batches
    * 0..n-1 with batch `crash` served twice (forged half-append in
    * between); `opAt` (1..n) places the compaction or mid-swap forgery
    * before that serve step. */
  private case class Plan(n: Int, shuffle: Long, extra: List[Int], replay: Int,
                          crash: Int, opAt: Int, compact: Boolean) {
    def batchOf(i: Int): Int = if (i < n) i else extra(i - n)
  }

  private val SliceSize = 28

  private val genPlan: Gen[Plan] = for {
    n <- Gen.choose(2, 4)
    shuffle <- Gen.choose(0L, Long.MaxValue)
    extra <- Gen.listOfN(SliceSize - n, Gen.choose(0, n - 1))
    replay <- Gen.choose(0, n - 1)
    crash <- Gen.choose(0, n - 1)
    opAt <- Gen.choose(1, n)
    compact <- Gen.oneOf(true, false)
  } yield Plan(n, shuffle, extra, replay, crash, opAt, compact)

  private def canon(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Turn batch `id`'s commit into the crash state "append landed, marker
    * did not": an intent carrying the pre-append listing, the batch's
    * files left behind as orphans. */
  private def forgeHalfAppend(store: DurableStore, id: Long): Unit = {
    val marker = s"${store.commitsDir}/$id"
    val appended = DurableFs.readUtf8(marker).split("\n").filter(_.nonEmpty).toSet
    DurableFs.writeAtomic(s"$marker.intent", (store.files -- appended).toSeq.sorted.mkString("\n"))
    DurableFs.deleteIfExists(marker)
  }

  /** The crash state between a compaction's two swap renames: the live
    * directory moved to `.old`, a staged copy left in `.compacting`. */
  private def forgeMidSwap(store: DurableStore): Unit = {
    DurableFs.move(store.dataDir, s"${store.dataDir}.old")
    DurableFs.writeAtomic(s"${store.dataDir}.compacting/part-00000-staged.parquet",
      "staged, never swapped in")
  }

  private def laws(s: Store, local: Array[Row], p: Plan): Unit = {
    val order = new scala.util.Random(p.shuffle).shuffle(local.indices.toList)
    val batches = (0 until p.n).map { k =>
      val members = order.zipWithIndex.collect { case (r, i) if p.batchOf(i) == k => local(r) }
      spark.createDataFrame(java.util.Arrays.asList(members: _*), s.slice.schema)
    }
    // the faulted run's serve steps: batch `crash` twice, with the forged
    // half-append between; before step i, `committedBefore(i)` batches
    // are committed
    val steps = (0 until p.n).flatMap(k => if (k == p.crash) Seq(k, k) else Seq(k))
    val crashStep = steps.indexOf(p.crash)
    def committedBefore(i: Int): Int = if (i == crashStep + 1) p.crash else steps(i - 1) + 1
    // the clean run's stored rows are read only where a check needs them
    val needRows = Set(1, p.n) ++ (if (p.compact) Set(committedBefore(p.opAt)) else Set())
    def rowsOf(store: DurableStore) = canon(store.rows(spark))

    // clean run: verdicts per batch; rowsAt(c) = rows once batches 0..c-1 committed
    val dir = tmp(s"law-${s.name}-")
    val store = s.store(dir)
    s.init(dir)
    val rowsAt = scala.collection.mutable.Map.empty[Int, Seq[String]]
    if (needRows(0)) rowsAt(0) = rowsOf(store)
    val verdicts = batches.indices.map { k =>
      val v = canon(s.serve(dir, batches(k), k.toLong))
      if (needRows(k + 1)) rowsAt(k + 1) = rowsOf(store)
      v
    }

    // LAW 1: replay is read-only and verdict-identical
    val before = store.files
    assert(canon(s.serve(dir, batches(p.replay), p.replay.toLong)) === verdicts(p.replay),
      s"replayed batch ${p.replay} changed its verdicts")
    assert(store.files === before, s"replayed batch ${p.replay} touched the data files")

    // LAWS 2-4: reset the same store and run the faulted schedule on it —
    // every serve re-uses a batch id the clean run committed
    s.init(dir)
    steps.zipWithIndex.foreach { case (k, i) =>
      if (i == p.opAt) {
        if (p.compact) {
          store.compact(spark)
          assert(rowsOf(store) === rowsAt(committedBefore(i)),
            s"compaction before step $i changed the stored rows")
        } else forgeMidSwap(store)
      }
      assert(canon(s.serve(dir, batches(k), k.toLong)) === verdicts(k),
        s"batch $k verdicts differ from the clean run (step $i)")
      if (i == 0)
        assert(rowsOf(store) === rowsAt(1), "a re-served batch id after reset must append again")
      if (i == crashStep) forgeHalfAppend(store, k.toLong)
    }
    assert(rowsOf(store) === rowsAt(p.n), "the faulted run must end with the clean run's rows")
  }

  private val Cases = 1

  for ((name, seed) <- Seq("incremental", "neardup", "imagedup", "audiodup",
      "videodup", "substr", "clf", "budget").zipWithIndex)
    test(s"store laws hold for $name: replay, crash rollback, compaction, reset") {
      val s = stores.find(_.name == name).get
      val local = s.slice.collect()
      assert(local.length === SliceSize)
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(Cases)
          .withInitialSeed(Seed(7919L * (seed + 1))),
        Prop.forAllNoShrink(genPlan) { p => laws(s, local, p); true })
      assert(res.passed, res.status.toString)
    }
}
