package graft.functions

/** The engine's frozen default BPE merge table: the verbatim output of
  * `BpeTokenizer.trainMerges(documents @ sf0.01, "text", 48)` — 48
  * merges trained on the synthetic document fixture and frozen here as
  * the vocab artifact (the same freeze-an-artifact discipline as the
  * IVF quantizer: budgets, packing, and dataset cards tokenize under a
  * FIXED table; retrain-and-swap is a deliberate maintenance act, never
  * an implicit side effect). `BpeSpec` ("Default is trainMerges'
  * verbatim output") pins this list against a fresh training run, so
  * the lineage is checked, not asserted.
  *
  * The table satisfies the replayability invariant (BpeEncode) by
  * construction, which is what lets every gate oracle replay the
  * encode in plain SQL.
  */
object BpeVocab {

  /** The frozen LARGE merge table (1k+ merges): the verbatim output of
    * `BpeTokenizer.trainMergesScalable(bigTrainingCorpus @ sf0.01, "t",
    * 1536)`, persisted as a resource in the engine's marker wire form
    * (`BpeEncode.encodeMergesArg` — symbols can contain any character
    * except the validated-out RS/US markers, so a line-based format
    * would be fragile). Regenerate with `runMain
    * graft.functions.BpeVocabDump`; `BpeSpec` retrains and pins the
    * lineage, exactly like `Default`'s.
    */
  lazy val Big: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_vocab_big.merges")
    require(in != null, "missing frozen resource graft/bpe_vocab_big.merges" +
      " — regenerate with runMain graft.functions.BpeVocabDump")
    val s = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
    val m = BpeEncode.decodeMergesArg(s)
    BpeEncode.validateReplayable(m)
    m
  }

  /** The Big table's pinned training corpus: every text-bearing column
    * of the fixture tables (part names/types, customer names, event
    * props, document text), lowercased into one column `t` — 1,655
    * distinct pre-tokens at sf0.01 vs the documents table's 31, which
    * is what lets the table reach 1k+ merges before the minCount floor.
    */
  def bigTrainingCorpus(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lower}
    def c(table: String, column: String) =
      graft.Tables.table(spark, dir, table).select(lower(col(column)).as("t"))
    c("part", "p_name").union(c("part", "p_type"))
      .union(c("customer", "c_name"))
      .union(c("events", "props"))
      .union(c("documents", "text"))
  }

  /** How many merges the Big artifact freezes — one knob shared by the
    * dump main and the lineage spec.
    */
  val BigMergeBudget: Int = 1536

  val Default: Seq[(String, String)] = Seq(
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("j", "o"),
    ("jo", "in"),
    ("a", "s"),
    ("as", "h"),
    ("h", "ash"),
    ("r", "ow"),
    ("at", "c"),
    ("atc", "h"),
    ("b", "atch"),
    ("a", "n"),
    ("c", "an"),
    ("s", "can"),
    ("c", "o"),
    ("c", "u"),
    ("co", "lu"),
    ("colu", "m"),
    ("colum", "n"),
    ("cu", "st"),
    ("cust", "o"),
    ("custo", "mer"),
    ("f", "i"),
    ("fi", "l"),
    ("fil", "t"),
    ("filt", "er"),
    ("a", "l"),
    ("al", "l"),
    ("m", "all"),
    ("s", "mall"),
    ("g", "e"),
    ("l", "ow"),
    ("mer", "ge"),
    ("s", "low"),
    ("c", "t"),
    ("ct", "or"),
    ("d", "er"),
    ("e", "ctor"),
    ("or", "der"),
    ("v", "ector"),
  )
}

/** Regenerates the frozen Big merge-table resource from its pinned
  * training corpus and prints the measured trainer cost — the
  * freeze-an-artifact act (like PlanFingerprintDump for plans).
  */
object BpeVocabDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.obs.BenchSession("graft_bpe_vocab_dump", "8")
    val t0 = System.nanoTime()
    // minCount=1: the Big artifact trains to a fixed MERGE BUDGET with
    // the rare-pair floor disabled — how production BPE fills a vocab
    // (the floor exists to keep tiny ad-hoc tables from memorizing
    // noise; a budget-bounded table's tail is low-frequency by design)
    val res = graft.operators.BpeTokenizer.trainMergesScalable(
      BpeVocab.bigTrainingCorpus(spark, dir), "t",
      nMerges = BpeVocab.BigMergeBudget, minCount = 1L)
    val sec = (System.nanoTime() - t0) / 1e9
    val out = java.nio.file.Paths.get(
      "src/main/resources/graft/bpe_vocab_big.merges")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out,
      BpeEncode.encodeMergesArg(res.merges))
    println(f"[bpe-vocab] wrote ${out.toAbsolutePath} — " +
      f"${res.merges.size} merges in $sec%.2f s (2 corpus scans), " +
      f"${res.keptPreTokens}/${res.distinctPreTokens} pre-tokens kept, " +
      f"occurrence coverage ${res.occurrenceCoverage}%.6f")
    spark.stop()
  }
}
