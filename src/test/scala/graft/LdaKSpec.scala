package graft

import graft.ext.Clustering

/** K-topic topic-model pins: at K = 2 the PLSA, smoothed-LDA and
  * online-LDA kernels must reproduce golden outputs recorded from the
  * former two-topic implementations (the s38/s46/s75 model class), and
  * K = 3 must separate a three-vocabulary planted corpus. */
class LdaKSpec extends SparkSpec {

  // three disjoint-vocabulary document groups with a shared stopword
  private def docs = {
    import spark.implicits._
    (1L to 36L).map { i =>
      val words = (i % 3) match {
        case 0 => Seq("ale", "bock", "stout", "porter")
        case 1 => Seq("cider", "perry", "mead", "braggot")
        case _ => Seq("kvass", "sima", "boza", "chicha")
      }
      val body = (0 until 6).map(j => words((i.toInt + j) % 4)) :+ "the"
      (i, body.mkString(" "))
    }.toDF("doc_id", "text")
  }

  // the three-vocabulary corpus spreads every vocabulary over both doc
  // parities, so the K = 2 EM fits stay topic-symmetric on it; here doc
  // parity picks the vocabulary, so the parity seed breaks the symmetry
  // and the pinned values exercise the whole E/M chain
  private def skewedDocs = {
    import spark.implicits._
    (1L to 24L).map { i =>
      val body = (0 until 5 + (i % 3).toInt).map { j =>
        if ((i + j) % 4 == 0) "the"
        else if (i % 2 == 1) s"a${(i + j) % 3}" else s"b${(i * j) % 4}"
      } :+ s"m${i % 5}"
      (i, body.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, String, Long)] =
    df.orderBy("topic", "rnk").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

  // (topic, rnk, tok, phi_micro) of either EM fit on the three-vocabulary
  // corpus at K = 2: both topics tie every planted term at 1/14
  private val symmetricEm = for (t <- Seq(1L, 2L); (tok, r) <- Seq("the", "ale",
      "bock", "boza", "braggot", "chicha", "cider", "kvass").zipWithIndex)
    yield (t, r + 1L, tok, if (r == 0) 142857L else 71428L)

  test("ldaTopicsK at K = 2 reproduces the legacy ldaTopics output exactly") {
    // golden values recorded from the former two-topic ldaTopics
    assert(rows(Clustering.ldaTopicsK(docs, "doc_id", "text",
      kTot = 2, iters = 2, topK = 8)) === symmetricEm)
    assert(rows(Clustering.ldaTopicsK(skewedDocs, "doc_id", "text",
      kTot = 2, iters = 2, topK = 4)) === Seq(
      (1L, 1L, "the", 212667L), (1L, 2L, "b0", 199384L), (1L, 3L, "a2", 127522L),
      (1L, 4L, "a0", 114458L), (2L, 1L, "b0", 229184L), (2L, 2L, "the", 215904L),
      (2L, 3L, "a2", 110573L), (2L, 4L, "b2", 101832L)))
  }

  test("seed fraction text at K = 2 carries the legacy 250000/750000 split") {
    // value-identity with the legacy arithmetic form, checked over both
    // parities through the engine
    import spark.implicits._
    val got = Seq(0L, 1L, 2L, 3L).toDF("did")
      .selectExpr("did", s"${Clustering.ldaSeedFracExpr(2, 1)} AS f",
        "(250000 + ((did % 2) * 500000)) AS legacy")
      .collect()
    got.foreach(r => assert(r.getInt(1).toLong === r.getLong(2)))
  }

  test("ldaTopicsK at K = 3 separates three planted vocabularies") {
    val out = Clustering.ldaTopicsK(docs, "doc_id", "text", kTot = 3, iters = 4, topK = 4)
      .collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // per topic, the top-4 tokens must be dominated by ONE planted
    // vocabulary (the shared stopword may take one slot)
    val vocabs = Seq(Set("ale", "bock", "stout", "porter"),
      Set("cider", "perry", "mead", "braggot"),
      Set("kvass", "sima", "boza", "chicha"))
    val byTopic = out.groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(2)).toSet)
    val owners = (1L to 3L).map { t =>
      val toks = byTopic(t)
      vocabs.zipWithIndex.maxBy { case (v, _) => (v & toks).size }._2
    }
    assert(owners.toSet.size === 3, s"each topic must own a distinct vocabulary: $owners")
    intercept[IllegalArgumentException](
      Clustering.ldaTopicsK(docs, "doc_id", "text", kTot = 7))
  }

  test("plsaTopicsK at K = 2 reproduces the legacy plsaTopics output exactly") {
    // golden values recorded from the former two-topic plsaTopics
    assert(rows(Clustering.plsaTopicsK(docs, "doc_id", "text",
      kTot = 2, iters = 2, topK = 8)) === symmetricEm)
    assert(rows(Clustering.plsaTopicsK(skewedDocs, "doc_id", "text",
      kTot = 2, iters = 2, topK = 4)) === Seq(
      (1L, 1L, "a2", 214665L), (1L, 2L, "the", 193814L), (1L, 3L, "a0", 193198L),
      (1L, 4L, "a1", 193198L), (2L, 1L, "b0", 385034L), (2L, 2L, "the", 234684L),
      (2L, 3L, "b2", 171126L), (2L, 4L, "m2", 34892L)))
  }

  test("onlineLdaTopicsK at K = 2 reproduces the legacy onlineLdaTopics output exactly") {
    // golden values recorded from the former two-topic onlineLdaTopics
    assert(rows(Clustering.onlineLdaTopicsK(docs, "doc_id", "text",
      kTot = 2, iters = 2, topK = 8)) === Seq(
      (1L, 1L, "kvass", 1963567L), (1L, 2L, "chicha", 1959068L), (1L, 3L, "sima", 1954107L),
      (1L, 4L, "braggot", 1942775L), (1L, 5L, "mead", 1883481L), (1L, 6L, "ale", 1859341L),
      (1L, 7L, "stout", 1794365L), (1L, 8L, "bock", 1759944L),
      (2L, 1L, "the", 3150657L), (2L, 2L, "porter", 2544952L), (2L, 3L, "cider", 2301825L),
      (2L, 4L, "perry", 2255799L), (2L, 5L, "boza", 2173894L), (2L, 6L, "stout", 1697716L),
      (2L, 7L, "ale", 1692375L), (2L, 8L, "bock", 1601115L)))
    assert(rows(Clustering.onlineLdaTopicsK(skewedDocs, "doc_id", "text",
      kTot = 2, iters = 2, topK = 4)) === Seq(
      (1L, 1L, "b0", 2110427L), (1L, 2L, "a2", 1948922L), (1L, 3L, "a1", 1874547L),
      (1L, 4L, "m1", 1546626L), (2L, 1L, "the", 3143662L), (2L, 2L, "b0", 2886579L),
      (2L, 3L, "b2", 2542641L), (2L, 4L, "a0", 1802642L)))
  }

  test("onlineLdaTopicsK at K = 3: three topics, lambda moved off every seed, deterministic") {
    val out = Clustering.onlineLdaTopicsK(docs, "doc_id", "text", kTot = 3, iters = 2, topK = 8)
      .orderBy("topic", "rnk").collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // the blend moved lambda off the two seed levels (1e6 / 1.5e6)
    assert(out.exists(r => r.getLong(3) != 1000000L && r.getLong(3) != 1500000L))
    assert(out.forall(_.getLong(3) > 0L))
    val again = Clustering.onlineLdaTopicsK(docs.repartition(7), "doc_id", "text",
      kTot = 3, iters = 2, topK = 8).orderBy("topic", "rnk").collect()
    assert(again.toSeq === out.toSeq)
  }

  test("plsaTopicsK at K = 3 separates three planted vocabularies") {
    val out = Clustering.plsaTopicsK(docs, "doc_id", "text", kTot = 3, iters = 4, topK = 4)
      .collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    val vocabs = Seq(Set("ale", "bock", "stout", "porter"),
      Set("cider", "perry", "mead", "braggot"),
      Set("kvass", "sima", "boza", "chicha"))
    val byTopic = out.groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(2)).toSet)
    val owners = (1L to 3L).map { t =>
      vocabs.zipWithIndex.maxBy { case (v, _) => (v & byTopic(t)).size }._2
    }
    assert(owners.toSet.size === 3, s"each topic must own a distinct vocabulary: $owners")
  }
}
