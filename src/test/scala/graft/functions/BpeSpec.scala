package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Contracts for the merge-table BPE stack: the greedy-by-rank encoder,
  * the replayability invariant that makes the SQL oracle exact, the
  * trainer's determinism + lineage of the frozen default table, and the
  * expression plumbing.
  */
class BpeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def ranks(merges: Seq[(String, String)]) = BpeEncode.rankMap(merges)

  test("pre-tokenization: class runs, spaces vanish") {
    assert(BpeEncode.preTokenize("the quick12 brown!! fox") ==
      Seq("the", "quick", "12", "brown", "!!", "fox"))
    assert(BpeEncode.preTokenize("  ") == Seq.empty)
    assert(BpeEncode.preTokenize("a1!a") == Seq("a", "1", "!", "a"))
  }

  test("greedy-by-rank encode: handmade cases") {
    val m = Seq(("a", "b"), ("ab", "c"), ("c", "d"))
    assert(BpeEncode.encodeWord("abcd", ranks(m)).toSeq == Seq("abc", "d"),
      "rank 0 merges first even though (c,d) also applies initially")
    assert(BpeEncode.encodeWord("aaa", ranks(Seq(("a", "a")))).toSeq ==
      Seq("aa", "a"), "leftmost-first non-overlapping")
    assert(BpeEncode.encodeWord("abab", ranks(m)).toSeq == Seq("ab", "ab"))
    assert(BpeEncode.encodeWord("x", ranks(m)).toSeq == Seq("x"))
    assert(BpeEncode.encodeWord("ba", ranks(m)).toSeq == Seq("b", "a"))
  }

  test("replayability invariant rejects colliding tables") {
    // ("ab","c") and ("a","bc") both create "abc" — greedy-by-rank and
    // rank-order replay diverge on such tables, so they must not load
    val bad = Seq(("a", "b"), ("b", "c"), ("ab", "c"), ("a", "bc"))
    assertThrows[IllegalArgumentException] {
      BpeEncode.validateReplayable(bad)
    }
    BpeEncode.validateReplayable(BpeVocab.Default) // frozen table is clean
    BpeEncode.validateReplayable(Nil) // empty = char split, valid
  }

  test("greedy encode ≡ rank-order replay on every fixture document " +
      "(the equivalence the SQL oracle stands on)") {
    // rank-order replay: the oracle's exact semantics — wrap each char,
    // apply each merge once in rank order via literal leftmost
    // non-overlapping replace (java String.replace == SQL replace)
    def replayWord(w: String, merges: Seq[(String, String)]): Seq[String] = {
      val RS = "\u001E"; val US = "\u001F"
      var s = w.map(c => RS + c + US).mkString
      merges.foreach { case (l, r) =>
        s = s.replace(RS + l + US + RS + r + US, RS + l + r + US)
      }
      s.split('\u001E').toSeq.filter(_.nonEmpty).map(_.stripSuffix(US))
    }
    val m = BpeVocab.Default
    val r = ranks(m)
    val texts = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text")).collect().map(_.getString(0))
    assert(texts.length == 500)
    var tokens = 0L
    texts.foreach { t =>
      BpeEncode.preTokenize(t).foreach { w =>
        val greedy = BpeEncode.encodeWord(w, r).toSeq
        assert(greedy == replayWord(w, m), s"divergence on pre-token '$w'")
        tokens += greedy.size
      }
    }
    assert(tokens > 0)
  }

  test("trainer is deterministic and the frozen default table is its output") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.01", "documents")
      .select(col("text"))
    val trained = graft.operators.BpeTokenizer.trainMerges(docs, "text", 48)
    assert(trained == BpeVocab.Default,
      "BpeVocab.Default must be the verbatim trainMerges output — " +
        "retrain and re-freeze if the fixture or trainer changed")
  }

  test("trainer skips collision candidates and honors minCount") {
    import spark.implicits._
    // 'abc' repeated: merges (a,b) then (ab,c); the pair (b,c) dies
    // when (a,b) merges; nothing else repeats >= minCount
    val docs = Seq.fill(5)("abc").toDF("text")
    val m = graft.operators.BpeTokenizer.trainMerges(docs, "text", 10)
    assert(m == Seq(("a", "b"), ("ab", "c")))
    // higher minCount stops training immediately
    assert(graft.operators.BpeTokenizer.trainMerges(docs, "text", 10,
      minCount = 6L) == Seq.empty)
  }

  test("scalable trainer ≡ reference trainer, and the Big artifact is " +
      "its verbatim output") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.01", "documents")
      .select(col("text"))
    // equivalence: the constant-scan trainer's incremental pair updates
    // must emit the SAME table the scan-per-merge reference trainer does
    // (selection order, minCount stop, collision+marker skips all mirror)
    val fast = graft.operators.BpeTokenizer
      .trainMergesScalable(docs, "text", 48)
    assert(fast.merges == BpeVocab.Default,
      "trainMergesScalable must equal trainMerges on the same corpus")
    assert(fast.corpusScans == 2 && fast.occurrenceCoverage == 1.0)
    // Big lineage: frozen resource == retrain on the pinned corpus
    val big = graft.operators.BpeTokenizer.trainMergesScalable(
      BpeVocab.bigTrainingCorpus(spark, "/root/testdata/sf0.01"), "t",
      nMerges = BpeVocab.BigMergeBudget, minCount = 1L)
    assert(big.merges.size == BpeVocab.BigMergeBudget)
    assert(big.merges == BpeVocab.Big,
      "BpeVocab.Big must be the verbatim trainMergesScalable output — " +
        "regenerate with runMain graft.functions.BpeVocabDump")
  }

  test("scalable trainer enforces and measures the pre-token bound") {
    import spark.implicits._
    // 'aaab' x 3 dominates 'ccc' x 2: maxPreTokens=1 keeps only the top
    // word and the coverage cell says exactly how much mass was kept
    val docs = (Seq.fill(3)("aaab") ++ Seq.fill(2)("ccc")).toDF("text")
    val bounded = graft.operators.BpeTokenizer
      .trainMergesScalable(docs, "text", 10, maxPreTokens = 1)
    assert(bounded.keptPreTokens == 1 && bounded.distinctPreTokens == 2)
    assert(bounded.occurrenceCoverage == 3.0 / 5.0)
    assert(bounded.merges == graft.operators.BpeTokenizer.trainMerges(
      Seq.fill(3)("aaab").toDF("text"), "text", 10),
      "the dropped tail word must contribute no merges")
    // driver core: marker-bearing pre-tokens never produce a merge
    val marked = graft.operators.BpeTokenizer.trainOnFrequencies(
      Array(("ab", 5L), ("xy", 3L)), 10, minCount = 2L)
    assert(marked == Seq(("x", "y")))
    BpeEncode.validateReplayable(marked)
  }

  test("trainer tie-break uses UTF-8 byte order (Spark's string " +
      "ordering), not UTF-16 code units") {
    // count-2 tie between (😀,😀) and (U+FFFF,U+FFFF): UTF-16 sorts the
    // surrogate (D83D) below FFFF, UTF-8 sorts F0.. above EF BF BF —
    // the driver trainer must agree with trainMerges' Spark orderBy
    val emoji = "😀"
    val m = graft.operators.BpeTokenizer.trainOnFrequencies(
      Array((emoji + emoji, 2L), ("￿￿", 2L)), 3, minCount = 2L)
    assert(m == Seq(("\uD83D", "\uDE00"), ("￿", "￿"),
      (emoji, emoji)), s"got $m")
  }

  test("vocab artifact round-trips") {
    val path = graft.TestDirs("bpe_vocab").toString
    graft.operators.BpeTokenizer.writeVocab(spark, BpeVocab.Default, s"$path/v")
    assert(graft.operators.BpeTokenizer.readVocab(spark, s"$path/v")
      == BpeVocab.Default)
  }

  test("expression plumbing: codegen'd column API matches encodeWord") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val out = Seq("the customer batch", "join join", "")
      .toDF("text")
      .select(GraftFunctions.bpe_encode(col("text"), BpeVocab.Default).as("t"))
      .collect().map(_.getSeq[String](0).toList)
    val r = ranks(BpeVocab.Default)
    def ref(t: String) = BpeEncode.preTokenize(t)
      .flatMap(w => BpeEncode.encodeWord(w, r)).toList
    assert(out.toList == List(ref("the customer batch"), ref("join join"), Nil))
  }
}
