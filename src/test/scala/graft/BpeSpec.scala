package graft

import graft.ops.Bpe

/** BPE training: hand-computed merge sequences, greedy-application edge
  * cases (the two-pass replace), and determinism. */
class BpeSpec extends SparkTestBase {

  private def docsOf(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("learns the classic low/lower/lowest merge sequence with count-then-lex tiebreaks") {
    // word counts: low×3, lower×1, lowest×1
    val docs = docsOf("low lower lowest", "low low")
    val (merges, state) = Bpe.train(docs, rounds = 6)
    assert(merges.map(m => (m.round, m.pair, m.merged, m.cnt)) === Seq(
      (1, "l o", "lo", 5L),     // l·o ties o·w at 5 → lexicographic
      (2, "lo w", "low", 5L),
      (3, "low e", "lowe", 2L),
      (4, "lowe r", "lower", 1L), // three singleton pairs → smallest wins
      (5, "lowe s", "lowes", 1L),
      (6, "lowes t", "lowest", 1L)))
    val segs = state.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(segs("low") === "low")
    assert(segs("lower") === "lower")
    assert(segs("lowest") === "lowest")
  }

  test("greedy merge application: runs resolve left-to-right, boundaries respected") {
    // aaaa → [aa, aa]; aaa → [aa, a]; aaaaa → [aa, aa, a] (the odd
    // singleton lands at the END — the run case a shared-boundary replace
    // scheme gets wrong, caught in review and fixed with doubled
    // boundaries); aaaaaa → [aa, aa, aa]
    val docs = docsOf("aaaa aaa aaaa aaaaa aaaaaa")
    val (merges, state) = Bpe.train(docs, rounds = 1)
    assert(merges.head.pair === "a a")
    // frequency-weighted pair count: aaaa(cnt 2)×3 + aaa×2 + aaaaa×4 + aaaaaa×5 = 17
    assert(merges.head.cnt === 17L)
    val segs = state.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(segs("aaaa") === s"aa${Bpe.Sep}aa")
    assert(segs("aaa") === s"aa${Bpe.Sep}a")
    assert(segs("aaaaa") === s"aa${Bpe.Sep}aa${Bpe.Sep}a")
    assert(segs("aaaaaa") === s"aa${Bpe.Sep}aa${Bpe.Sep}aa")
  }

  test("tokenizeWithVocab: per-doc subword counts follow the learned segmentation") {
    // after 2 rounds (lo, low): low→1 symbol, lower→[low,e,r]=3, lowest→[low,e,s,t]=4
    val docs = docsOf("low lower lowest", "low low")
    val out = Bpe.tokenizeWithVocab(docs, rounds = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) === ((3L, 8L)))
    assert(out(1L) === ((2L, 2L)))
  }

  test("training is deterministic and layout-insensitive") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val a = Bpe.mergeTable(docs.repartition(1)).collect().map(_.toString).toSeq
    val b = Bpe.mergeTable(docs.repartition(13)).collect().map(_.toString).toSeq
    assert(a === b)
    assert(a.size === Bpe.DefaultRounds)
  }

  test("stored model: published merges replay tokenization bit-identically") {
    import graft.sources.Formats
    val docs = graft.sources.Tables.documents(spark, sfDir)
    try {
      Bpe.buildBpeModel(docs, "t_bpe_model_spec")
      // the stored sequence IS the training output, round-ordered
      val stored = Bpe.storedMerges(spark, "t_bpe_model_spec")
      val fresh = Bpe.train(docs)._1
      assert(stored === fresh)
      // tokenizing under the stored model equals train-per-call
      val indexed = Bpe.tokenizeWithStoredVocab(spark, docs, "t_bpe_model_spec")
        .collect().toSeq
      val direct = Bpe.tokenizeWithVocab(docs).collect().toSeq
      assert(indexed === direct)
      // manifest stamps the training corpus; missing manifest refuses loudly
      val Some((n, fp, params, _)) = Formats.readBuildMeta(spark, "t_bpe_model_spec")
      assert((n, fp) === Formats.corpusStamp(docs, "doc_id"))
      assert(params === s"kind=bpe,rounds=${Bpe.DefaultRounds}")
      spark.sql("DROP TABLE t_bpe_model_spec_meta")
      intercept[IllegalArgumentException](
        Bpe.tokenizeWithStoredVocab(spark, docs, "t_bpe_model_spec"))
    } finally {
      Seq("t_bpe_model_spec", "t_bpe_model_spec_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
