package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ngram screen's blocking DECISION BOUNDARY, executable (VERDICT
  * r19 #5): `Dedup.ngramBlockingProbeOf` costs out the bucket-grid vs
  * PPJoin-style prefix-filter strategies from the corpus itself
  * (grid's generate-and-verify volume vs the prefix join's
  * intermediate + distinct candidates) and both full screens must
  * produce the IDENTICAL pair set whichever the probe picks — the
  * selector chooses cost, never semantics.
  *
  * Two fixtures pin the two arms: the real corpus (31-token
  * vocabulary, dense bigram space — every prefix element is
  * corpus-hot, the intermediate dominates, grid wins) and a synthetic
  * sparse corpus (per-doc disjoint vocabularies — the prefix join only
  * materializes the planted duplicates, prefix wins by orders of
  * magnitude).
  */
class NgramBlockingSpec extends SparkSuite {

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("ida", "idb", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("the real fixture's density probe selects the bucket grid") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 2000)
    val r = operators.Dedup.ngramBlockingProbeOf(docs).head()
    assert(r.getAs[String]("chosen") == "bucket_grid")
    // and the decision's inputs are sane: banded prefix candidates are
    // a SUBSET of the band pairs, so the distinct count alone can never
    // pick grid — only the intermediate term can (the r19 correction)
    val (grid, inter, pfx) = (r.getLong(1), r.getLong(2), r.getLong(3))
    assert(pfx <= grid, s"prefix candidates $pfx must be a subset of the $grid band pairs")
    assert(grid <= inter + pfx, s"grid $grid should win on total volume vs $inter + $pfx")
  }

  test("prefix and grid screens produce the identical pair set on the dense fixture") {
    val grid = pairs(Registry.byName("dedup_ngram_jaccard").run(spark, sf))
    val pfx  = pairs(operators.Dedup.ngramPairsPrefix(spark, sf))
    assert(grid.nonEmpty, "vacuous fixture — no pairs to compare")
    assert(grid == pfx, s"screens diverge: grid-only ${grid -- pfx}, prefix-only ${pfx -- grid}")
  }

  /** 40 docs with per-doc disjoint 20-token vocabularies, plus three
    * planted exact-duplicate pairs — the sparse corpus where the
    * prefix join's buckets are empty except at the planted dups. */
  private def sparseCorpus: DataFrame = {
    import spark.implicits._
    (0 until 40).map { i =>
      // docs 0/1, 2/3, 4/5 are duplicates; everyone else is disjoint
      val vocabOwner = if (i < 6) i / 2 * 2 else i
      val text = (0 until 20).map(j => s"w${vocabOwner}_$j").mkString(" ")
      (i.toLong, "xx", text)
    }.toDF("doc_id", "lang", "text")
  }

  test("a sparse corpus flips the selector to the prefix filter") {
    val docs = sparseCorpus
    val r = operators.Dedup.ngramBlockingProbeOf(docs).head()
    assert(r.getAs[String]("chosen") == "prefix_filter")
    val (grid, inter, pfx) = (r.getLong(1), r.getLong(2), r.getLong(3))
    // all 40 docs share one (lang, count) block: grid must verify every
    // pair; the prefix join only ever materializes the planted dups
    assert(grid == 40L * 39 / 2, s"expected the full band volume, got $grid")
    assert(inter + pfx < grid / 10,
      s"sparse prefix volume $inter + $pfx should undercut grid $grid by >10x")
  }

  test("screens agree on seeded random corpora across the density spectrum") {
    // losslessness of the prefix filter is a THEOREM (the prefix
    // lemma), but its implementation has off-by-one surface (the exact
    // integer ceil, the rn <= boundary, the band compose) — sweep
    // seeded corpora from 4-token (denser than the fixture) to
    // 400-token vocabularies and require exact pair-set agreement on
    // every one
    val rnd = new scala.util.Random(20)
    for (vocab <- Seq(4, 12, 40, 400)) {
      import spark.implicits._
      val docs = (0 until 30).map { i =>
        // plant one near-dup pair per corpus: doc 1 = doc 0 plus a tail
        // token (high but not necessarily >= 0.6 overlap — agreement
        // must hold whether or not pairs survive)
        val toks = i match {
          case 0 => docs0Base(vocab)
          case 1 => docs0Base(vocab) :+ "tail"
          case _ => (0 until 15).map(_ => s"t${rnd.nextInt(vocab)}")
        }
        (i.toLong, "xx", toks.mkString(" "))
      }.toDF("doc_id", "lang", "text")
      val grid = pairs(operators.Dedup.ngramPairsGridOf(docs))
      val pfx  = pairs(operators.Dedup.ngramPairsPrefixOf(docs))
      assert(grid == pfx,
        s"vocab=$vocab: grid-only ${grid -- pfx}, prefix-only ${pfx -- grid}")
    }
  }

  // doc 0's token base per vocab size, reproduced for the planted dup
  private def docs0Base(vocab: Int): Seq[String] = {
    val rnd = new scala.util.Random(20L + vocab)
    (0 until 15).map(_ => s"t${rnd.nextInt(vocab)}")
  }

  test("the two screens agree on the sparse corpus and find exactly the planted dups") {
    val docs = sparseCorpus
    val grid = pairs(operators.Dedup.ngramPairsGridOf(docs))
    val pfx  = pairs(operators.Dedup.ngramPairsPrefixOf(docs))
    val expected = Set((0L, 1L, 1.0), (2L, 3L, 1.0), (4L, 5L, 1.0))
    assert(grid == expected, s"grid screen: $grid")
    assert(pfx == expected, s"prefix screen: $pfx")
  }
}
