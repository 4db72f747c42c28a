package graft

/** Shuffle-BYTE drift guard (VERDICT r10 #5): the plan-shape lints
  * (PlanLintSpec) catch a new exchange or a lost broadcast, but a 3×
  * byte regression behind an UNCHANGED plan shape — a wider shuffle
  * key, a dropped early projection, a fatter agg buffer — sailed
  * through every prior gate. This spec pins sf0.001 shuffle read/write
  * bytes for a representative, SessionMemo-free query set and fails on
  * a >2× move in either direction.
  *
  * The pins are this spec's own measurements under the shared test
  * session (local[4], 4 shuffle partitions, AQE on), which it logs for
  * every query as `info` lines (`<query> read=<r> write=<w>`), and are
  * byte-for-byte reproducible: shuffle totals at a fixed SF are a pure
  * function of data + plan (lz4 is deterministic; AQE coalescing moves
  * partition boundaries, not totals). Each query measures COLD (cache
  * cleared first), so suite order cannot shift them. If a deliberate
  * plan change moves a pin, re-pin from those lines IN THE SAME
  * COMMIT, saying why. An INFRA upgrade (Spark version, lz4, partition
  * defaults) can legitimately move EVERY pin at once — that failure
  * mode is wholesale and self-identifying (all pins drift together,
  * no repo diff); re-pin the whole table in one pass from one run.
  *
  * dedup_simhash's layout stats pass is memoized per (corpus, JVM)
  * since r12 (SessionMemo.value) — probed memo-warm vs memo-cold:
  * 133,784 vs 134,888, a 1,104-byte delta well inside the band, so
  * suite order (which decides memo warmth here) cannot flip the pin. */
class ShuffleDriftSpec extends SparkSpecBase {

  // (query, pinned shuffle-read bytes, pinned shuffle-write bytes, band)
  private val pins: Seq[(String, Long, Long, Long)] = Seq(
    ("q1_pricing_summary", 1646L, 1086L, 2L), // partial-agg'd: bytes ~ groups, not rows
    ("j1_dim_join_distinct", 7223L, 7223L, 2L), // broadcast join: only the distinct shuffles
    ("w1_topk_sort", 2897L, 2897L, 2L), // TakeOrdered: per-partition heads only
    ("ta_token_count", 87696L, 87696L, 2L), // scan-side kernel + small agg
    // re-pinned from 125,947: Tables.documentsUnpinned stopped shuffling
    // the text column (ba56155); the digest-keyed groupBy is unchanged
    ("dedup_exact", 36669L, 36669L, 2L), // digest-keyed groupBy, one exchange
    ("dedup_exact_substring", 737123L, 737123L, 2L), // compact 8-byte gram keys, no text
    ("dedup_minhash_lsh", 149632L, 149632L, 2L), // band keys + verify joins
    ("dedup_simhash", 134888L, 134888L, 2L), // pigeonhole join with fused hamming (re-pinned r11)
    // r12 extension (VERDICT r11 #5): the families whose bytes the r11
    // scale work showed are the real risk surface
    ("ta_paragraph_dedup", 303336L, 215640L, 2L), // digest-keyed paragraph exchanges, text crosses once
    ("dedup_containment", 348287L, 348287L, 2L), // prefix × full-postings join
    ("ann_ivf_topk", 478466L, 476956L, 2L), // k-means build + pruned probe search
    // streaming drain: input-side shuffle + state-store exchanges pin;
    // band 4 because drainVerified may legitimately RERUN a short drain
    // (~1-in-10 partial AvailableNow snapshots), roughly doubling bytes
    ("t20_stream_substring_dedup", 222611L, 222611L, 4L))

  test("shuffle bytes stay within their pinned sf0.001 band") {
    // every query runs and every drift is listed, so one failure shows
    // whether a single plan moved or every pin moved together
    val drifts = pins.flatMap { case (name, pinR, pinW, band) =>
      GraftSession.reset(spark)
      val fn = SparkEntry.queries(name)
      val (_, r, w) = ShuffleTelemetry.measure(spark) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      info(s"$name read=$r write=$w (pins $pinR/$pinW)")
      Seq(("read", r, pinR), ("write", w, pinW)).collect {
        case (kind, actual, pin) if actual < pin / band || actual > pin * band =>
          s"$name $kind shuffle bytes drifted >${band}x: $actual vs pinned $pin"
      }
    }
    assert(drifts.isEmpty, drifts.mkString("\n", "\n", "\n") +
      "if a plan change is deliberate, re-pin from this spec's `read=/write=` info lines " +
      "and explain in the commit")
  }
}
