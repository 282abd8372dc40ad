package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE merge training (Sennrich et al. 2016) — the tokenizer-
  * training step of an LLM data pipeline, run where the data is instead
  * of funneling the corpus to one machine.
  *
  * The corpus is scanned ONCE into a (word, count) frequency table —
  * everything after that is vocab-sized, orders of magnitude smaller
  * than the corpus, so per-round cost is independent of corpus size.
  * Each round: adjacent symbol pairs explode from the word table
  * weighted by word count (one narrow partial-agg shuffle), the argmax
  * pair (count desc, pair asc — deterministic tie-break) is collected
  * (ONE row), and the merge is applied to every word map-side.
  *
  * Words are encoded as strings: symbols joined by TWO spaces with a
  * single leading/trailing space (" a  b  c "). On that encoding the
  * greedy left-to-right non-overlapping BPE merge IS a literal
  * `replace(w, " x  y ", " xy ")`: each boundary owns two spaces, the
  * pattern consumes one space from each side and the replacement
  * restores them, so consecutive occurrences ("a a a a" → "aa aa")
  * merge exactly like the reference algorithm — and `replace` has
  * identical left-to-right semantics in every engine, which makes the
  * whole iterative loop oracle-checkable (DuckDB reproduces all rounds
  * bit-for-bit; no driver-side trainer to diverge from).
  *
  * q110 computes round-0 pair candidates only; this runs the loop.
  */
object Bpe {

  /** The vocab-sized training state: every distinct lowercased token
    * with its corpus count and its symbol encoding `w` (" a  b  c ") —
    * ONE corpus scan, after which training and encoding are both
    * vocabulary-problems. `tok` is retained so the encoded form can be
    * joined back to documents ([[encodeCounts]]). */
  private def vocabState(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(TextFunctions.tokens(lower(trim(col(textCol))))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("wc"))
      .select(col("tok"), col("wc"), concat(lit(" "),
        array_join(expr(
          "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"),
          "  "),
        lit(" ")).as("w"))

  /** Greedy left-to-right application of an ordered merge list to the
    * symbol encoding — the SAME literal-replace the trainer uses, so
    * encode(train(corpus)) is self-consistent by construction. */
  private def applyMerges(words: DataFrame, pairs: Seq[String]): DataFrame =
    pairs.foldLeft(words) { (acc, pair) =>
      val Array(x, y) = pair.split(" ", 2)
      acc.withColumn("w", replace(col("w"),
        lit(" " + x + "  " + y + " "), lit(" " + x + y + " ")))
    }

  /** The training loop over a (w, wc) word table. Returns the ordered
    * merges as plain Scala — callers either surface them as a DataFrame
    * ([[trainMerges]]) or fold them back into an encoder
    * ([[encodeCounts]]). */
  private def trainLoop(words0: DataFrame, steps: Int): Seq[(Int, String, Long)] = {
    var words = words0.localCheckpoint(true) // vocab-sized; flat plan per round
    val merges = Seq.newBuilder[(Int, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val top = words
        .select(col("wc"), explode(graft.expressions.TextHash.adjacentPairs(
          split(trim(col("w")), "\\s+"))).as("pair"))
        .groupBy("pair").agg(sum(col("wc")).as("c"))
        .orderBy(col("c").desc, col("pair").asc)
        .limit(1).collect() // argmax only — one row to the driver
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        merges += ((step, pair, top(0).getLong(1)))
        val Array(x, y) = pair.split(" ", 2)
        words = words
          .withColumn("w", replace(col("w"),
            lit(" " + x + "  " + y + " "), lit(" " + x + y + " ")))
          .localCheckpoint(true)
        step += 1
      }
    }
    merges.result()
  }

  /** @return the learned merges in order: (step, pair, c) where `pair`
    *         is "x y" (space-joined symbol pair) and `c` its weighted
    *         adjacent-occurrence count at selection time. */
  def trainMerges(docs: DataFrame, textCol: String, steps: Int): DataFrame = {
    val spark = docs.sparkSession
    val merges = trainLoop(vocabState(docs, textCol).select("w", "wc"), steps)
    // explicit schema (no reflection encoder — keeps the operator usable
    // from environments where runtime reflection is restricted)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("step", IntegerType, nullable = false),
      StructField("pair", StringType, nullable = false),
      StructField("c", LongType, nullable = false)))
    val rows = merges.map { case (st, p, c) => Row(st, p, c) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Train-then-encode in one pass over the corpus: learn `steps` merges,
    * apply them to the vocabulary, and emit per-document subword counts —
    * (doc_id, n_tokens, n_subwords) — the "how many tokenizer tokens is
    * this corpus" accounting every pretraining budget starts from.
    *
    * Scale shape: the corpus tokenizes ONCE into checkpointed (doc_id, tok)
    * pairs; trainer and encoder both run off that projection (the q101
    * lesson — never two full tokenize scans). The merge application is
    * vocab-sized map-side string work; the per-token subword widths then
    * re-join the (doc_id, tok, cnt) table on `tok` — a shuffle join on
    * purpose, because at 100 TB the vocabulary (100M+ distinct tokens)
    * outgrows a broadcast, and both sides are already narrow integer/
    * string columns. Final rollup is one doc-keyed partial agg. */
  def encodeCounts(docs: DataFrame, idCol: String, textCol: String,
      steps: Int): DataFrame = {
    val toks = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextFunctions.tokens(lower(trim(col(textCol))))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // read twice: vocabulary build + the width join
    val vocab = toks.groupBy("tok").agg(sum(col("cnt")).as("wc"))
      .select(col("tok"), col("wc"), concat(lit(" "),
        array_join(expr(
          "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"),
          "  "),
        lit(" ")).as("w"))
      .localCheckpoint(true) // vocab-sized
    val merges = trainLoop(vocab.select("w", "wc"), steps).map(_._2)
    val widths = applyMerges(vocab, merges)
      .select(col("tok"),
        size(split(trim(col("w")), "\\s+")).cast("long").as("n_sub"))
    toks.join(widths, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("n_sub")).as("n_subwords"))
  }
}
