package graft

import org.apache.spark.sql.functions._

/** Dedup invariants (SURVEY §5.3): Jaccard algebra on generated token
  * sets, idempotence of exact dedup, and MinHash-LSH recall against
  * the exact-Jaccard pairs on the real corpus.
  */
class DedupSpec extends SparkSuite {

  private def jac(a: Set[String], b: Set[String]): Double =
    if ((a ++ b).isEmpty) 0.0 else (a & b).size.toDouble / (a ++ b).size

  test("jaccard is symmetric and bounded in [0,1] (seeded property sweep)") {
    val vocab = Vector("key", "agg", "row", "scan", "slow", "fast", "table", "x", "y")
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 500) {
      val a = Vector.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).toSet
      val b = Vector.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).toSet
      val j = jac(a, b)
      assert(j >= 0.0 && j <= 1.0)
      assert(math.abs(j - jac(b, a)) < 1e-15)
      if (a == b && a.nonEmpty) assert(j == 1.0)
    }
  }

  test("exact dedup is idempotent: survivors contain no duplicate hashes") {
    val survivors = operators.Dedup.dedupExact.run(spark, sf)
    val again = survivors.groupBy(col("text_sha")).count().filter(col("count") > 1)
    assert(again.count() == 0)
  }

  test("bigram rolling-mix hashes are order-sensitive and collision-free on the fixture") {
    // r19 replaced the ngram row's md5-of-"t1 t2" strings with
    // xxhash64(t1) XOR rot13(xxhash64(t2)). The rot13 asymmetry is
    // LOAD-BEARING: a symmetric mix (plain XOR) would hash "a b" and
    // "b a" identically, and 410 of the sf0.001 scope's 500 docs
    // contain at least one reversed bigram pair — their distinct-set
    // sizes (and so the 3:5 prefilter and jac denominators) would
    // silently shrink. Pin: every doc's hashed-set size equals its
    // exact distinct STRING-bigram count (which also certifies zero
    // 64-bit collisions on the fixture, the assumption the oracle
    // contract rides on).
    val t = split(col("text"), " ")
    val stringBigrams = array_distinct(filter(
      zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (x, y) => concat(x, lit(" "), y)),
      v => v.isNotNull))
    val expected = Tables.documents(spark, sf)
      .filter(col("doc_id") < 2000 && size(t) >= 2)
      .select(col("doc_id"), size(stringBigrams).as("n_str"))
    val got = operators.Dedup.bigramShingleDocs(spark, sf)
      .select(col("doc_id"), col("ns"))
    val diff = expected.join(got, Seq("doc_id"), "full_outer")
      .filter(col("n_str").isNull || col("ns").isNull || col("n_str") =!= col("ns"))
      .count()
    assert(diff == 0, s"$diff docs where hashed bigram-set size != string bigram-set size")
  }

  test("near-jaccard pairs agree with a driver-side recomputation on a sample") {
    val pairs = operators.Dedup.dedupNearJaccard.run(spark, sf).limit(50).collect()
    val texts = Tables
      .documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet)
      .toMap
    for (r <- pairs) {
      val (ida, idb, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val expected = jac(texts(ida), texts(idb))
      assert(math.abs(expected - j) < 1e-5, s"pair ($ida,$idb)")
      assert(expected >= 0.8)
    }
  }

  test("LSH recall report reproduces the set algebra of its pair sets, per geometry") {
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("ida"), col("idb")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairSet(
      operators.Dedup.nearJaccardPairs(spark, sf, col("doc_id") < 2000)
    )
    val rows = operators.Dedup.dedupLshRecallReport.run(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("8perm_4x2_est80", "16perm_8x2_est80", "16perm_8x2_verified"))
    val cand8 = pairSet(operators.Dedup.minhashPairs(spark, sf, 0.2))
    val r8    = rows("8perm_4x2_est80")
    val hit8  = truth & cand8
    assert(r8.getLong(1) == truth.size, "n_truth")
    assert(r8.getLong(2) == cand8.size, "n_cand")
    assert(r8.getLong(3) == hit8.size, "n_hit")
    assert(math.abs(r8.getDouble(4) - hit8.size.toDouble / truth.size) < 1e-5)
    assert(math.abs(r8.getDouble(5) - hit8.size.toDouble / cand8.size) < 1e-5)
  }

  test("verified 16-perm banding reaches recall >= 0.9 at precision 1 on the probe scope") {
    val rows = operators.Dedup.dedupLshRecallReport.run(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val v = rows("16perm_8x2_verified")
    assert(v.getDouble(4) >= 0.9, s"verified recall ${v.getDouble(4)}")
    // prec == 1.0 is BY CONSTRUCTION on the Spark side (verified ≡
    // banded ∩ truth, a semi-join against the manifest) — this line
    // only pins that the construction didn't regress, not an
    // independent exact check:
    assert(v.getDouble(5) == 1.0, s"verified precision ${v.getDouble(5)} (construction invariant)")
    // and the 16-perm estimate-thresholded screen must beat the 8-perm one
    assert(rows("16perm_8x2_est80").getDouble(4) >= rows("8perm_4x2_est80").getDouble(4))
  }

  test("incremental pair delta UNION corpus-only pairs == the full manifest (delta-maintenance identity)") {
    // manifest(t+1) = manifest(t) ∪ Δ, exactly: per-doc blocking makes
    // pair candidacy split-invariant, so the day's delta (batch×corpus
    // ∪ batch×batch) unioned with the old corpus-only manifest must
    // reproduce the full-corpus build pair-for-pair, jac included
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select(col("ida"), col("idb"), col("jac")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val delta      = rows(operators.Dedup.dedupPairsIncremental.run(spark, sf))
    val corpusOnly = rows(operators.Dedup.nearJaccardPairs(spark, sf, col("doc_id") % 10 =!= 0))
    val full       = rows(operators.Dedup.nearJaccardPairs(spark, sf))
    assert(delta.nonEmpty, "the 10% batch must contribute pairs on this near-clique corpus")
    assert(delta.forall { case (a, b, _) => a % 10 == 0 || b % 10 == 0 },
      "every delta pair must touch the batch")
    assert((delta & corpusOnly).isEmpty, "delta and old manifest must be disjoint")
    assert((delta | corpusOnly) == full, "manifest(t+1) = manifest(t) UNION delta must hold exactly")
  }

  test("manifest-served truth boundary matches exact Jaccard recomputed from raw text") {
    // The INDEPENDENT exact verification the report row itself no
    // longer carries (ADVICE r10): the verified screen's precision is
    // tautologically 1 against the manifest, so the spec recomputes
    // jaccard from raw TEXT for banded candidates on BOTH sides of
    // the truth boundary — proving the manifest's jac >= 0.8 cut is
    // the text-level truth, not a self-consistent artifact. (The
    // DuckDB oracle proves the same from SQL; this pins it
    // driver-side, engine-free.)
    import operators.Dedup
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("ida"), col("idb")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = pairSet(Dedup.minhashPairs(spark, sf, 1.0, Dedup.MinhashA16, Dedup.MinhashB16))
    val truth  = pairSet(Dedup.nearJaccardPairs(spark, sf, col("doc_id") < 2000))
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") < 2000)
      .select(col("doc_id"), col("lang"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2).split(" ").toSet))
      .toMap
    val verified = (banded & truth).toSeq.sorted.take(50)
    assert(verified.nonEmpty, "probe scope must produce verified pairs")
    for ((a, b) <- verified)
      assert(jac(docs(a)._2, docs(b)._2) >= 0.8,
        s"manifest admitted ($a,$b) but raw-text jaccard is below 0.8")
    val rejected = (banded -- truth).toSeq.sorted.take(50)
    assert(rejected.nonEmpty, "banding must propose some below-threshold candidates")
    for ((a, b) <- rejected)
      assert(jac(docs(a)._2, docs(b)._2) < 0.8 || docs(a)._1 != docs(b)._1,
        s"manifest rejected ($a,$b) but raw-text jaccard is >= 0.8 in-language")
  }

  test("recall report runs end-to-end at a hash-sampled second scope (the 100 TB protocol)") {
    // the sampled-recall protocol: truth scope is a deterministic hash
    // sample of the corpus, not a prefix — proving the contract row's
    // doc_id < ClusterProbeScope bound is a knob of lshRecallFrame, not
    // a load-bearing constant
    val sampled = pmod(xxhash64(col("doc_id")), lit(3)) === 0
    val rows = operators.Dedup.lshRecallFrame(spark, sf, sampled).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("8perm_4x2_est80", "16perm_8x2_est80", "16perm_8x2_verified"))
    val v = rows("16perm_8x2_verified")
    assert(v.getLong(1) > 0, "sampled truth scope must still contain true pairs")
    assert(v.getDouble(5) == 1.0, s"verified precision ${v.getDouble(5)} at the sampled scope")
    for (r <- rows.values; i <- Seq(4, 5) if !r.isNullAt(i))
      assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0, s"ratio out of range: $r")
  }

  test("memoized signature serving equals fresh builds for both LSH geometries") {
    import operators.Dedup
    // minhashPairs serves both contract geometries from one memoized
    // 16-wide signature table (the 8-perm constants are a prefix) —
    // candidate pairs must be identical to a fresh per-geometry build
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq
    val fresh8 = pairs(Dedup.minhashPairsFromSig(
      Dedup.minhashSignatures(spark, sf, Dedup.MinhashA, Dedup.MinhashB), 8, 0.2))
    val fresh16 = pairs(Dedup.minhashPairsFromSig(
      Dedup.minhashSignatures(spark, sf, Dedup.MinhashA16, Dedup.MinhashB16), 16, 0.2))
    val served8  = pairs(Dedup.minhashPairs(spark, sf, 0.2))
    val served16 = pairs(Dedup.minhashPairs(spark, sf, 0.2, Dedup.MinhashA16, Dedup.MinhashB16))
    assert(fresh8.nonEmpty && fresh16.nonEmpty)
    assert(served8 == fresh8, "8-perm projection of the memoized table diverges from a fresh build")
    assert(served16 == fresh16, "16-perm memoized serving diverges from a fresh build")
  }

  test("materialized pair view equals the direct blocked join bit-for-bit") {
    // pairTablePath is a pure materialization: same rows (as a set —
    // parquet write order is not part of the contract), same values,
    // for the full column set the four consumers project.
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3), r.getString(4))
    val cols = Seq("ida", "idb", "jac", "source_a", "source_b").map(col)
    val direct = operators.Dedup
      .nearJaccardPairs(spark, sf, carry = Seq("source"))
      .select(cols: _*).collect().map(key).sortBy(t => (t._1, t._2))
    val shared = spark.read
      .parquet(operators.Dedup.pairTablePath(spark, sf))
      .select(cols: _*).collect().map(key).sortBy(t => (t._1, t._2))
    assert(direct.nonEmpty, "fixture must contain near-dup pairs")
    assert(shared.toSeq == direct.toSeq, "view diverges from the direct join")
  }

  test("pair-view restriction equals direct scoped screening (blocking is scope-invariant)") {
    // What lets dedup_clusters consume the full-scope pair manifest:
    // per-doc blocking (lang, token-count bucket) means whether a pair
    // is a candidate — and its exact Jaccard — never depends on which
    // OTHER docs are in scope, so {full pairs} ∩ {both ids < scope} ==
    // {pairs screened directly at scope}.
    val scope = 600L
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val direct = operators.Dedup
      .nearJaccardPairs(spark, sf, docFilter = col("doc_id") < scope)
      .select(col("ida"), col("idb"), col("jac")).collect().map(key).toSet
    val restricted = spark.read
      .parquet(operators.Dedup.pairTablePath(spark, sf))
      .filter(col("ida") < scope && col("idb") < scope)
      .select(col("ida"), col("idb"), col("jac")).collect().map(key).toSet
    assert(direct.nonEmpty, "scope must contain pairs")
    assert(restricted == direct, "restricting the view is not equivalent to scoped screening")
  }

  test("clustering runs end-to-end at a second scope and matches a union-find oracle") {
    // VERDICT r8 #8: ClusterProbeScope must be a knob of the algorithm,
    // not a load-bearing constant. Run the distributed pointer-doubling
    // CC at a smaller scope and check its labels EXACTLY against a
    // driver-side union-find over the same jac >= 0.8 edge set (tiny at
    // this scope, so the oracle is cheap and independent of the
    // iterative Spark path).
    val scope = 600L
    val labels = operators.Dedup.clustersFrame(spark, sf, scope).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val ids = labels.map(_._1).toSet
    val nDocs = Tables.documents(spark, sf).filter(col("doc_id") < scope).count()
    assert(labels.length.toLong == nDocs, "one label per in-scope doc")
    val edges = operators.Dedup
      .nearJaccardPairs(spark, sf, docFilter = col("doc_id") < scope)
      .select(col("ida"), col("idb")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map(ids.toSeq.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((a, b) <- edges) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val expect = ids.toSeq.sorted.map { i =>
      val root = find(i)
      val lbl  = ids.filter(j => find(j) == root).min
      (i, lbl, lbl == i)
    }
    assert(labels.sortBy(_._1).toSeq == expect, "second-scope labels diverge from union-find")
    assert(edges.nonEmpty, "second scope must still contain edges")
  }

  test("best-of-cluster drop set matches a driver-side union-find + quality argmax") {
    // The r20 keeper policy, checked against an oracle INDEPENDENT of
    // both the Spark path (star-contracted iterative CC) and the DuckDB
    // oracle (star-contracted recursive closure): plain union-find over
    // the full manifest plus a per-component (n_chars desc, doc_id)
    // argmax, all driver-side.
    val dropped = operators.Dedup.bestOfClusterDroppedFrame(spark, sf)
      .collect().map(_.getLong(0)).toSeq.sorted
    val pairs = spark.read.parquet(operators.Dedup.pairTablePath(spark, sf))
      .select(col("ida"), col("idb")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture manifest must contain pairs")
    val ids = (pairs.map(_._1) ++ pairs.map(_._2)).toSet
    val parent = scala.collection.mutable.Map(ids.toSeq.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((a, b) <- pairs) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val chars = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keepers = ids.groupBy(find).values
      .map(c => c.maxBy(i => (chars(i), -i)))
      .toSet
    val expect = (ids -- keepers).toSeq.sorted
    assert(dropped == expect, s"drop set diverges from the union-find oracle " +
      s"(engine ${dropped.size} vs oracle ${expect.size} ids)")
    // the policy is non-vacuous on the fixture: at least one component
    // keeps a NON-min-id member (quality beats the smaller-id rule)
    assert(keepers.exists(k => ids.groupBy(find).values.exists(c => c.contains(k) && c.min != k)),
      "every cluster's keeper is its min id — the quality argmax is vacuous here")
  }

  test("persisted minhash table equals the fresh build and isolates per input dir") {
    // (a) the ViewStore-served FULL-CORPUS 16-wide table, restricted to
    // the probe scope, must be row-for-row the fresh probe-scoped build
    // — the serving path (what both contract LSH rows and the recall
    // audit read since r10) is result-invisible
    val served = spark.read
      .parquet(operators.Dedup.minhashSigTablePath(spark, sf))
      .filter(col("doc_id") < operators.Dedup.ClusterProbeScope)
    val fresh = operators.Dedup
      .minhashSignatures(spark, sf, operators.Dedup.MinhashA16, operators.Dedup.MinhashB16)
    assert(served.exceptAll(fresh).isEmpty && fresh.exceptAll(served).isEmpty,
      "persisted signature table must be bit-equal to the fresh build")
    // (b) two input dirs resolve to two INDEPENDENT view paths (the r9
    // sig16Cache accretion nit is closed by keying state on the
    // ViewStore fingerprint, so a second corpus can never be served the
    // first corpus's signatures; rebuild-on-regeneration is pinned
    // end-to-end by ViewStoreSpec for the shared materialize path).
    // The second dir must hold a FLAT documents.parquet FILE like the
    // real testdata contract — ViewStore.listInputs sees only files,
    // so a directory-shaped table would leave the fingerprint keyed on
    // the dir string alone and this test would pass vacuously. The
    // store root is scoped to a temp dir so the test's materialized
    // views don't accrete under the shared tmpdir across runs.
    val dir2 = java.nio.file.Files.createTempDirectory("graft-mh-dir2").toFile
    val altRoot = java.nio.file.Files.createTempDirectory("graft-mh-root").toFile
    spark.conf.set("spark.graft.viewstore.dir", altRoot.getPath)
    try {
      val src = new java.io.File(sf)
      val scratch = new java.io.File(dir2, "scratch")
      Tables.documents(spark, sf).filter(col("doc_id") < 100)
        .coalesce(1).write.mode("overwrite").parquet(scratch.getPath)
      val part = scratch.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir2, "documents.parquet").toPath)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(scratch)
      val p1 = operators.Dedup.minhashSigTablePath(spark, sf)
      val p2 = operators.Dedup.minhashSigTablePath(spark, dir2.getAbsolutePath)
      assert(p1 != p2, "distinct input dirs must map to distinct view paths")
      assert(spark.read.parquet(p2).agg(max(col("doc_id"))).head().getLong(0) < 100L,
        "second dir's table must be built from the second dir's corpus")
      assert(src.exists())
    } finally {
      spark.conf.unset("spark.graft.viewstore.dir")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir2); rm(altRoot)
    }
  }

  test("incremental minhash screen: one verdict per batch doc, served from the view") {
    val df = operators.Dedup.dedupMinhashIncremental.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_minhash_sigs"),
      "corpus side must scan the persisted minhash table\n" + plan.take(2000))
    val rows = df.collect()
    val nBatch = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0).count()
    assert(rows.length.toLong == nBatch, "one verdict row per batch doc")
    for (r <- rows) {
      assert(r.getBoolean(3) == (r.getLong(1) == 0L), s"admitted must mean zero dups: $r")
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0, s"best_est out of range: $r")
      if (r.getLong(1) > 0) assert(r.getDouble(2) >= 0.8, s"flagged doc must carry est >= 0.8: $r")
    }
  }

  test("minhash LSH recall >= 0.5 vs exact jaccard >= 0.9 pairs") {
    val exact = operators.Dedup.dedupNearJaccard
      .run(spark, sf)
      .filter(col("jac") >= 0.9)
      .select(col("ida"), col("idb"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val approx = operators.Dedup
      .minhashPairs(spark, sf, 0.3)
      .select(col("ida"), col("idb"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(exact.nonEmpty)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall over ${exact.size} exact pairs")
  }

  test("simhash of identical texts is identical; hamming rises with edits") {
    val sh = operators.Dedup.dedupSimhash.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh.size == Tables.documents(spark, sf).count())
    // near-dup pair should have small hamming distance vs a random pair
    val pair = operators.Dedup.dedupNearJaccard.run(spark, sf)
      .filter(col("jac") >= 0.95).limit(1).collect()
    if (pair.nonEmpty) {
      val (a, b) = (pair(0).getLong(0), pair(0).getLong(1))
      val hamNear = java.lang.Long.bitCount(sh(a) ^ sh(b))
      assert(hamNear <= 30, s"near-dup hamming $hamNear")
    }
  }
  test("span coverage: bounds hold and n_spans matches token count per doc") {
    val rows = operators.Dedup.dedupSpanCoverage.run(spark, sf).collect()
    assert(rows.nonEmpty)
    val nToks = Tables
      .documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    for (r <- rows) {
      val (doc, nSpans, nDup, ratio) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nSpans == math.max(nToks(doc) - 4, 0).toLong, s"doc $doc span count")
      assert(nDup >= 0 && nDup <= nSpans, s"doc $doc dup bound")
      assert(ratio >= 0.0 && ratio <= 1.0, s"doc $doc ratio $ratio")
    }
    assert(rows.exists(_.getLong(2) > 0), "no duplicated spans found in the fixture")
  }

  test("exact 8-gram pairs share exactly n_shared distinct 8-grams (driver recheck)") {
    def shingles(text: String): Set[String] = {
      val t = text.split(" ")
      if (t.length < 8) Set.empty
      else (0 to t.length - 8).map(i => t.slice(i, i + 8).mkString(" ")).toSet
    }
    val texts = Tables
      .documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> shingles(r.getString(1)))
      .toMap
    // the df <= 8 candidate cap: shingles in > 8 docs carry no pair evidence
    val hot = texts.values.toSeq.flatten
      .groupBy(identity).collect { case (s, occ) if occ.size > 8 => s }.toSet
    val pairs = operators.Dedup.dedupNgramExact.run(spark, sf).collect()
    assert(pairs.nonEmpty)
    for (r <- pairs) {
      val (ida, idb, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(ida < idb)
      val shared = (texts(ida) & texts(idb)) -- hot
      assert(shared.size.toLong == n, s"pair ($ida,$idb): ${shared.size} vs $n")
      assert(n >= 1)
    }
  }

  test("geometric-bucket blocking finds the identical pair set as the unblocked join") {
    import org.apache.spark.sql.functions._
    // the bucket grid is a pure candidate-generation optimization: the
    // exact count band + jac threshold decide membership, so the pair
    // set must be bit-identical to a blocking-free quadratic join
    val blocked = operators.Dedup.dedupNearJaccard.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).toSet))
    val naive = for {
      (a, la, ta) <- docs.toSeq
      (b, lb, tb) <- docs.toSeq
      if a < b && la == lb
      inter = (ta & tb).size
      jac = inter.toDouble / (ta.size + tb.size - inter)
      if jac >= 0.8
    } yield (a, b, math.floor(jac * 1e6 + 0.5) / 1e6)
    // driver-side jac uses distinct token SETS; the engine hashes and
    // counts distinct hashes — md5 collisions would break this, which
    // is part of what the equality asserts
    assert(blocked == naive.toSet, s"blocked ${blocked.size} vs naive ${naive.size}")
  }

  test("containment bucket blocking finds the identical pair set as the unblocked join") {
    import org.apache.spark.sql.functions._
    // same invariant as the jaccard test, for the asymmetric screen:
    // the [bucket(na), bucket(3na)] emit is pure candidate generation —
    // the exact count band + containment threshold decide membership,
    // so the pair set must match a blocking-free quadratic join
    val blocked = operators.Dedup.dedupContainment.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).toSet))
    val naive = for {
      (a, la, ta) <- docs.toSeq
      (b, lb, tb) <- docs.toSeq
      if a != b && la == lb
      na = ta.size; nb = tb.size
      if nb >= na && nb <= 3 * na && !(nb == na && b < a)
      cont = (ta & tb).size.toDouble / na
      if cont >= 0.9
    } yield (a, b, math.floor(cont * 1e6 + 0.5) / 1e6)
    assert(blocked.nonEmpty, "fixture must produce containment pairs")
    assert(blocked == naive.toSet, s"blocked ${blocked.size} vs naive ${naive.size}")
  }

  test("persisted-signature incremental screen is bit-equal and reads the signature table") {
    val live = operators.Dedup.dedupIncremental.run(spark, sf).collect().toSeq
    val df   = operators.Dedup.dedupIncrementalPersisted.run(spark, sf)
    assert(df.collect().toSeq == live, "persistence must be result-invisible")
    // corpus side must come from the signature parquet, not documents.parquet
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_dedup_sigs"), "plan must scan the persisted signature table\n" + p.take(2000))
  }

  test("source-overlap matrix partitions the pair set; carry changes nothing") {
    val pairs = operators.Dedup.dedupNearJaccard.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // carrying extra columns through the pair shuffle must not change
    // the pair set itself (same ids, same jac)
    val carried = operators.Dedup.nearJaccardPairs(spark, sf, carry = Seq("source"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(carried.toSet == pairs.toSet, "carry altered the pair set")
    // every near-dup pair lands in exactly one unordered source cell
    val matrix = operators.Dedup.dedupSourceOverlap.run(spark, sf).collect()
    assert(matrix.map(_.getLong(2)).sum == pairs.length, "matrix must partition the pairs")
    for (r <- matrix) {
      assert(r.getString(0) <= r.getString(1), "cells must be unordered (src_a <= src_b)")
      val m = r.getDouble(3)
      assert(m >= 0.8 && m <= 1.0, s"mean jac $m outside the screen's [0.8, 1] range")
    }
  }

  test("source-uniqueness classes partition every source's documents") {
    val rows = operators.Dedup.dedupSourceUnique.run(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, cross, internal, uniq) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cross + internal + uniq == n,
        s"${r.getString(0)}: $cross + $internal + $uniq != $n — classes must partition the source")
      assert(math.abs(r.getDouble(5) - uniq.toDouble / n) < 1e-6, "unique_pct mismatch")
    }
  }

  test("soft-dedup weights: eff <= raw per source, global mass matches recompute") {
    val rows = operators.Dedup.dedupSoftWeights.run(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nDocs, nClusters) = (r.getLong(1), r.getLong(2))
      val (raw, eff, disc)   = (r.getLong(3), r.getDouble(4), r.getDouble(5))
      assert(nClusters <= nDocs)
      assert(eff <= raw + 1e-6, s"${r.getString(0)}: eff $eff > raw $raw")
      assert(math.abs(disc - eff / raw) < 1e-5, "discount must be eff/raw")
    }
    // independent recompute: sum over docs of tokens/cluster_size
    val labels = operators.Dedup.dedupClusters.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = labels.values.groupBy(identity).view.mapValues(_.size).toMap
    val toks = Tables.documents(spark, sf)
      .filter(col("doc_id") < operators.Dedup.ClusterProbeScope)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = toks.map { case (id, t) => t.toDouble / sizes(labels(id)) }.sum
    val got = rows.map(_.getDouble(4)).sum
    assert(math.abs(expected - got) < 1e-3, s"global eff mass $got vs recompute $expected")
    assert(rows.map(_.getLong(1)).sum == toks.length.toLong)
  }

  test("cluster labels are consistent: edges intra-cluster, survivors minimal") {
    val labels = operators.Dedup.dedupClusters.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = operators.Dedup.dedupNearJaccard.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    for ((a, b) <- edges) assert(labels(a) == labels(b), s"edge ($a,$b) crosses clusters")
    for ((doc, cl) <- labels) {
      assert(cl <= doc, s"label $cl exceeds doc $doc")
      assert(labels(cl) == cl, s"representative $cl not its own cluster")
    }
  }

  test("edit-distance screen equals a driver-side brute-force recompute") {
    def lev(a: String, b: String): Int = {
      val prev = Array.range(0, b.length + 1)
      var cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        val t = prev.clone(); Array.copy(cur, 0, prev, 0, cur.length); cur = t
      }
      prev(b.length)
    }
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expected = (for {
      (ida, la, ta) <- docs
      (idb, lb, tb) <- docs
      if ida < idb && la == lb &&
        ta.take(12).toLowerCase == tb.take(12).toLowerCase
      d = lev(ta.take(128), tb.take(128))
      if d <= 24
    } yield (ida, idb, d.toLong)).toSet
    val got = operators.Dedup.dedupEditDistance.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty, "screen finds pairs at test scale")
    assert(got == expected, s"got ${got.size} pairs, expected ${expected.size}")
  }

  test("CDC chunk boundaries re-synchronize after a mid-document insertion") {
    import spark.implicits._
    // deterministic pseudo-word stream (no Random: same tokens every run)
    val toksA = (1 to 400).map(i => s"w${(i * 2654435761L) % 97}")
    val at = 200
    val toksB = toksA.take(at) ++ Seq("zzzledger") ++ toksA.drop(at)
    val docs = Seq((1L, toksA.mkString(" ")), (2L, toksB.mkString(" "))).toDF("doc_id", "text")
    val ch = operators.Dedup.cdcChunks(docs)
      .select("doc_id", "ck").collect().map(r => (r.getLong(0), r.getString(1)))
    val aCk = ch.collect { case (1L, ck) => ck }.toSet
    val bCk = ch.collect { case (2L, ck) => ck }.toSet
    assert(aCk.size > 10, s"expected many chunks, got ${aCk.size}")
    // content-defined cuts: ONLY the chunk the insertion lands in changes
    assert((aCk -- bCk).size <= 1,
      s"CDC lost ${(aCk -- bCk).size} chunks to one insertion — boundaries did not re-synchronize")
    // contrast: a fixed-stride (24-token) chunker loses every chunk
    // downstream of the insertion point — the alignment CDC preserves
    def stride(ts: Seq[String]): Set[String] = ts.grouped(24).map(_.mkString(" ")).toSet
    val strideLost = (stride(toksA) -- stride(toksB)).size
    assert(strideLost > (aCk -- bCk).size,
      s"fixed-stride lost $strideLost chunks; CDC must lose strictly fewer")
  }

  test("CDC max-length clamp: a boundary-free doc chunks into <=64-token pieces") {
    import spark.implicits._
    // the engine's own boundary rule, evaluated JVM-side so the test
    // can CONSTRUCT a doc with no natural boundary anywhere — the
    // pathological input the bare gear rule turned into one giant
    // chunk (a whole-doc collect_list in a single window group)
    def isBoundary(tok: String): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 8 == 0
    }
    val words = (1 to 2000).map(i => s"q${(i * 2654435761L) % 9973}")
      .filterNot(isBoundary).distinct.take(200)
    assert(words.size == 200, s"need 200 boundary-free words, got ${words.size}")
    val chunks = operators.Dedup.cdcChunks(
      Seq((1L, words.mkString(" "))).toDF("doc_id", "text"))
      .select("chunk_id", "n_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // 200 boundary-free tokens => forced cuts only: 64, 64, 64, 8
    assert(chunks.map(_._2).toSeq == Seq(64L, 64L, 64L, 8L),
      s"clamped chunk lengths: ${chunks.map(_._2).mkString(",")}")
    assert(chunks.map(_._2).max <= operators.Dedup.MaxChunkTokens)
  }

  test("CDC dedup row: fractions bounded; identical texts chunk identically") {
    val got = operators.Dedup.dedupCdcChunks.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    got.foreach { case (id, nChunks, nTok, f) =>
      assert(nChunks >= 1 && nTok >= nChunks, s"doc $id: $nChunks chunks / $nTok tokens")
      assert(f >= 0.0 && f <= 1.0, s"doc $id: dup_token_frac $f")
    }
    // identical texts produce identical chunk-key multisets (the exact-
    // duplicate case reads dup_token_frac 1.0 by construction)
    import spark.implicits._
    val text = (1 to 120).map(i => s"w${(i * 2654435761L) % 97}").mkString(" ")
    val twin = operators.Dedup.cdcChunks(Seq((1L, text), (2L, text)).toDF("doc_id", "text"))
      .select("doc_id", "chunk_id", "ck").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val a = twin.collect { case (1L, cid, ck) => (cid, ck) }.sortBy(_._1)
    val b = twin.collect { case (2L, cid, ck) => (cid, ck) }.sortBy(_._1)
    assert(a.nonEmpty && a.sameElements(b))
  }

}
