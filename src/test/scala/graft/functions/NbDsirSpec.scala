package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Planted-fixture coverage for the trained NB classifier and the DSIR
  * importance weights. The synthetic corpus's `lang` column is
  * uncorrelated metadata (every doc is the same English-ish word soup),
  * so — like the PII fixture — learning-quality assertions need planted
  * data with genuinely distinct class distributions; the corpus queries
  * (`nb_langid`, `dsir_weights`) gate arithmetic correctness via the
  * DuckDB oracle.
  */
class NbDsirSpec extends SparkSpec {
  import spark.implicits._

  private val enWords = Seq("the", "quick", "brown", "fox", "jumps", "over",
    "lazy", "dog", "river", "stone")
  private val frWords = Seq("le", "chat", "noir", "mange", "une", "pomme",
    "verte", "jolie", "souvent", "fenetre")
  private val zhWords = Seq("中文", "数据", "处理", "模型", "训练", "语料",
    "质量", "分词", "索引", "查询")

  /** 20 docs per class, 12 words each, deterministic word rotation so
    * texts vary (the content-hash split needs distinct texts).
    */
  private def planted = {
    def mk(words: Seq[String], label: String, base: Long) =
      (0 until 20).map { i =>
        val txt = (0 until 12).map(j => words((i * 7 + j * 3) % words.size))
          .mkString(" ")
        (base + i, txt, label)
      }
    (mk(enWords, "en", 0L) ++ mk(frWords, "fr", 100L) ++ mk(zhWords, "zh", 200L))
      .toDF("doc_id", "text", "lang")
  }

  test("nbModelStalenessReport: a planted NEW language in the appended " +
      "slice fires both signals — trigram-share drift far above the " +
      "control and a frozen-vs-fresh accuracy gap; a same-distribution " +
      "control reads quiet") {
    // frozen base: en + fr docs; queries use the report's own frozen
    // predicate (doc_id < 1000)
    def mk(words: Seq[String], label: String, base: Long, n: Int) =
      (0 until n).map { i =>
        val txt = (0 until 12).map(j => words((i * 7 + j * 3) % words.size))
          .mkString(" ")
        (base + i, txt, label)
      }
    val frozenDocs = mk(enWords, "en", 0L, 40) ++ mk(frWords, "fr", 100L, 40)
    def report(appended: Seq[(Long, String, String)]) =
      TextAnalysis.nbModelStalenessReport(
        (frozenDocs ++ appended).toDF("doc_id", "text", "lang"),
        "text", "doc_id", "lang", col("doc_id") < 1000L)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        .head()
    // planted: the appended slice is a language the frozen model has
    // never seen — its class is absent from the frozen class table, so
    // frozen accuracy on the appended docs is 0 by construction while a
    // fresh retrain learns it
    val drifted = mk(zhWords, "zh", 1000L, 40)
    // control: appended docs drawn from the SAME two languages
    val control = mk(enWords, "en", 1000L, 20) ++ mk(frWords, "fr", 1020L, 20)
    val (_, _, dMax, _, dScored, dDis, _, dFroz, dFresh, dAccF, dAccR, dGap) =
      report(drifted)
    val (_, _, cMax, _, _, _, _, _, _, _, _, cGap) = report(control)
    assert(dScored === 40L && dFroz === 0L,
      s"frozen model cannot know the planted class: hits $dFroz of $dScored")
    assert(dFresh > 30L && dGap >= 700L && dAccR > dAccF,
      s"fresh retrain must learn the planted class: fresh $dFresh gap $dGap")
    assert(dDis === 40L, s"every planted doc should flip prediction: $dDis")
    assert(dMax >= 5 * math.max(1L, cMax),
      s"planted share drift did not fire: $dMax vs control $cMax")
    assert(math.abs(cGap) <= 100L, s"no-drift control reads a gap: $cGap")
  }

  test("nbMergeModels: merged frozen+appended counts equal the retrained " +
      "model bit-for-bit (the additive monoid)") {
    def mk(words: Seq[String], label: String, base: Long, n: Int) =
      (0 until n).map { i =>
        val txt = (0 until 12).map(j => words((i * 7 + j * 3) % words.size))
          .mkString(" ")
        (base + i, txt, label)
      }
    val frozenDocs = mk(enWords, "en", 0L, 40) ++ mk(frWords, "fr", 100L, 40)
    // appended: a new class AND more docs of an existing class, so the
    // merge exercises both the new-key and the sum path
    val appendedDocs = mk(zhWords, "zh", 1000L, 30) ++ mk(enWords, "en", 1100L, 10)
    // reference train: per-(class, bucket) trigram counts and per-class
    // train-doc priors over the content-hash train split
    def train(rows: Seq[(Long, String, String)]) = {
      val base = rows.toDF("doc_id", "text", "lang")
        .select(col("text").as("__text"), col("lang").as("__label"))
        .filter(pmod(Curation.hash48(col("__text")), lit(1000)) < 800)
      val m = TextAnalysis.charTrigrams(
          base.withColumn("__id", col("__label")), "__text", "__id")
        .withColumn("b", pmod(TextAnalysis.portableHash48(col("t")), lit(4096)))
        .groupBy(col("doc_id").as("c"), col("b")).agg(count(lit(1)).as("n_cb"))
      (m, base.groupBy(col("__label").as("c")).agg(count(lit(1)).as("d_c")))
    }
    val (mF, pF) = train(frozenDocs)
    val (mA, pA) = train(appendedDocs)
    val (mM, cM) = TextAnalysis.nbMergeModels(mF, pF, mA, pA)
    val (mR, pR) = train(frozenDocs ++ appendedDocs)
    val cR = mR.groupBy(col("c")).agg(sum(col("n_cb")).as("n_c")).join(pR, "c")
    assert(mM.as[(String, Long, Long)].collect().toSet ===
      mR.as[(String, Long, Long)].collect().toSet,
      "merged (c, b, n_cb) table diverges from the retrain")
    assert(cM.as[(String, Long, Long)].collect().toSet ===
      cR.as[(String, Long, Long)].collect().toSet,
      "merged classes table diverges from the retrain")
  }

  test("nbClassify separates planted languages and scores every doc once") {
    val docs = planted
    val out = TextAnalysis.nbClassify(docs, "text", "doc_id", "lang")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select("doc_id", "pred_label", "lang")
      .as[(Long, String, String)].collect()
    assert(out.length === 60, "every doc has >= 1 trigram and exactly one prediction")
    assert(out.map(_._1).distinct.length === 60)
    val acc = out.count(r => r._2 === r._3).toDouble / out.length
    assert(acc >= 0.9, s"disjoint vocabularies must separate cleanly (acc=$acc)")
  }

  test("nbClassify breaks exact score ties by label order") {
    // two labels with literally identical text sets -> identical priors
    // and models -> every score ties -> the min label must win
    val df = Seq(
      (1L, "x y z x y z", "bb"), (2L, "x y z x y z", "aa"),
      (3L, "p q r p q r", "bb"), (4L, "p q r p q r", "aa"))
      .toDF("doc_id", "text", "lang")
    // both texts fall in the 80% train split (md5 % 1000 = 21 and 684)
    val out = TextAnalysis.nbClassify(df, "text", "doc_id", "lang")
      .select("doc_id", "pred_label").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "aa", 2L -> "aa", 3L -> "aa", 4L -> "aa"))
  }

  test("dsirWeights is exactly zero when the target is the whole corpus") {
    // target model == raw model -> every per-occurrence log-ratio is 0
    // and the totals term cancels: an exact integer invariant, not an
    // approximation
    val weights = Curation.dsirWeights(planted, "text", "doc_id", lit(true))
      .select("dsir_w_q10").as[Long].collect()
    assert(weights.length === 60)
    assert(weights.forall(_ === 0L), s"got nonzero: ${weights.filter(_ != 0L).take(5).toSeq}")
  }

  private val newWords = Seq("zorx", "blivet", "quux", "fnord", "glorp",
    "snarf", "wibble", "plugh", "vroom", "kzzrt")

  private def mkDocs(words: Seq[String], label: String, base: Long, n: Int) =
    (0 until n).map { i =>
      val txt = (0 until 12).map(j => words((i * 7 + j * 3) % words.size))
        .mkString(" ")
      (base + i, txt, label)
    }

  test("dsirModelStalenessReport: appended NON-target docs in an unseen " +
      "vocabulary fire sign flips and share drift (the frozen model would " +
      "mis-route them as target-like); a same-distribution control reads " +
      "quiet") {
    val frozenDocs = mkDocs(enWords, "en", 0L, 40) ++ mkDocs(frWords, "fr", 100L, 40)
    def report(appended: Seq[(Long, String, String)]) =
      Curation.dsirModelStalenessReport(
        (frozenDocs ++ appended).toDF("doc_id", "text", "lang"),
        "text", "doc_id", col("lang") === "en", col("doc_id") < 1000L)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    // drifted: fr-labelled docs in a vocabulary the frozen model never
    // saw — the frozen arm weights them TARGET-like (unseen trigrams
    // contribute only the positive raw-vs-target constant), the
    // merged-fresh arm knows their buckets as raw-only mass
    val drifted = mkDocs(newWords, "fr", 1000L, 30)
    // control: the frozen texts verbatim under fresh ids — the merged
    // model preserves every ratio, so no weight crosses the threshold
    val control = frozenDocs.map { case (id, t, l) => (id + 1000L, t, l) }
    val (_, _, dMax, _, dScored, dFlips, dFlipQ3, dGap) = report(drifted)
    val (_, _, cMax, _, _, cFlips, _, _) = report(control)
    assert(dScored === 30L)
    assert(dFlipQ3 >= 800L && dFlips >= 24L,
      s"planted drift did not flip selection signs: $dFlips/$dScored")
    assert(cFlips === 0L,
      s"same-distribution control flipped $cFlips docs")
    assert(dMax >= 5L * math.max(1L, cMax),
      s"share drift did not fire: planted $dMax vs control $cMax")
    assert(dGap > 0L)
  }

  test("ccnetCutsStaleness: a shifted appended distribution fires the " +
      "bucket-flip rate and cut drift; a verbatim same-distribution " +
      "control reads exactly quiet") {
    val frozenDocs = mkDocs(enWords, "en", 0L, 40) ++ mkDocs(frWords, "fr", 100L, 40)
    val src = "web"
    def df(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "text", "lang").withColumn("source", lit(src))
    def report(appended: Seq[(Long, String, String)]) =
      Curation.ccnetCutsStaleness(df(frozenDocs ++ appended),
        "text", "doc_id", "source", col("doc_id") < 1000L)
        .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        .head()
    // drifted: unseen-vocabulary docs score near the model-total
    // surprisal ceiling — all "tail" under the frozen cuts, while fresh
    // cuts fit to the arriving distribution re-tercile them
    val drifted = mkDocs(newWords, "fr", 1000L, 30)
    val (_, dN, _, dT2f, dT1n, _, dDt1, _, dFlips, dFlipQ3) = report(drifted)
    assert(dN === 30L)
    assert(dT1n > dT2f && dDt1 > 1000L,
      s"fresh cuts did not shift above the frozen ceiling: t1_fresh $dT1n " +
        s"vs t2_frozen $dT2f (d_t1 $dDt1)")
    assert(dFlipQ3 >= 500L, s"bucket-flip rate did not fire: $dFlipQ3 ($dFlips flips)")
    // control: the frozen texts verbatim — identical surprisal multiset,
    // identical cuts, zero flips by construction
    val control = frozenDocs.map { case (id, t, l) => (id + 1000L, t, l) }
    val (_, _, _, _, _, _, cDt1, cDt2, cFlips, _) = report(control)
    assert(cFlips === 0L && cDt1 === 0L && cDt2 === 0L,
      s"verbatim control not quiet: flips $cFlips d_t1 $cDt1 d_t2 $cDt2")
  }

  test("dsirWeights ranks target-like docs strictly above the rest") {
    val docs = planted
    val w = Curation.dsirWeights(docs, "text", "doc_id", col("lang") === "en")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select("lang", "dsir_w_q10").as[(String, Long)].collect()
    val en = w.filter(_._1 == "en").map(_._2)
    val rest = w.filter(_._1 != "en").map(_._2)
    // disjoint vocabularies: every en trigram mass sits in the target
    // model (weight > 0), every fr/zh bucket is absent from it (weight < 0)
    assert(en.min > 0L, s"en min ${en.min}")
    assert(rest.max < 0L, s"rest max ${rest.max}")
  }
}
