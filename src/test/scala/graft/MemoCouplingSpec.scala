package graft

/** Pins the `memoizes = true` ↔ memo-cache coupling mechanically
  * (ADVICE r13). The bench's `min2_memo_cleared` pass assumes that
  * `Registry.clearMemos()` really forces every memoizing row to
  * recompute; a row that sets the flag but serves from a cache
  * `clearMemos` cannot reach would silently get its memo HIT timed as
  * plan cost. Memo sites now self-register in [[Memos]], and this spec
  * closes the loop with compute-count probes:
  *
  *  - every `memoizes = true` row, run right after `clearMemos`, must
  *    strictly increase SOME registered cache's recompute counter — a
  *    row with an unregistered private cache fails here;
  *  - a second, uncleared run must NOT increase any counter (the flag is
  *    truthful: the row really serves the memo);
  *  - `clearMemos` before a third run must force a recompute again.
  *
  * The per-row cleared-run pass recomputes each memoizing row once at
  * sf0.001 — the same one-compute cost the registry-wide gates already
  * pay — and the triple-run (miss → hit → cleared-miss) runs on the
  * cheapest cache sharer only.
  */
class MemoCouplingSpec extends SparkSuite {

  private def memoRows = Registry.all.filter(_.memoizes)

  test("at least one registered memo handle exists and rows set memoizes") {
    // registration happens at operator-object init — force it the same
    // way clearMemos does, by touching the registry first
    assert(memoRows.nonEmpty, "no memoizes=true rows — drop this spec if intentional")
    assert(Memos.all.nonEmpty, "no memo handles registered")
  }

  test("every memoizes=true row recomputes into a REGISTERED cache after clearMemos") {
    for (q <- memoRows) {
      Registry.clearMemos()
      assert(Memos.all.forall(_.size == 0),
        s"clearMemos left a non-empty cache before ${q.name}: " +
          Memos.all.filter(_.size > 0).map(_.name).mkString(","))
      val before = Memos.totalComputes()
      q.run(spark, sf).count()
      val after = Memos.totalComputes()
      assert(after > before,
        s"${q.name} sets memoizes=true but its cleared run bumped no registered " +
          "recompute counter — its cache is invisible to Registry.clearMemos, " +
          "so min2_memo_cleared would time its memo hit as plan cost")
    }
  }

  test("uncleared rerun is a memo hit; clearMemos forces the recompute") {
    // cheapest memoizing row: dedup_clusters (bounded probe scope);
    // its cache is shared by the other dedup cluster rows, and the
    // stream report's cache follows the identical get/update shape
    val q = Registry.byName("dedup_clusters")
    q.run(spark, sf).count() // warm (may or may not compute, depending on order)
    val warm = Memos.totalComputes()
    q.run(spark, sf).count()
    assert(Memos.totalComputes() == warm,
      "second uncleared run recomputed — memoizes=true row is not actually serving its memo")
    Registry.clearMemos()
    q.run(spark, sf).count()
    assert(Memos.totalComputes() > warm,
      "post-clearMemos run served a memo hit — clear did not reach the cache")
  }
}
