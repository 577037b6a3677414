package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned-BPE tokenizer (SURVEY.md §2.D33; Sennrich, Haddow, Birch,
  * "Neural Machine Translation of Rare Words with Subword Units", ACL
  * 2016): real pipelines meter token budgets under a TRAINED subword
  * vocabulary, not a whitespace regex (D10/q39's face). This is the
  * word-level BPE shape: symbols start as characters, and each training
  * round merges the adjacent symbol pair with the highest
  * corpus-weighted frequency; tokenizing a word replays the merge list
  * in order, greedy left-to-right.
  *
  * Train/deploy split (the q84/q85 discipline): training reads ONLY the
  * word-frequency table — one keyed aggregation of the corpus (map-side
  * partials, the q61 vocab shape) — and its top-W rows (ORDER BY count
  * DESC, word — deterministic tie-break) are a BOUNDED driver artifact
  * (the Banding bounded-collect precedent), trained in plain Scala into
  * an R-entry merge list: the deployment artifact.
  *
  * Apply is keyed, never per-occurrence: the merge folds run once per
  * DISTINCT word (the corpus-growing model table — keyed, NOT broadcast,
  * the q73/q84 rule) as R chained scan-local aggregate() folds over the
  * word's character array; per-doc counts then join the (word →
  * token-count) table by word KEY and roll up doc-keyed. Cost: one
  * corpus scan for the frequency table (staged — vocab-sized), one for
  * the doc-word join; fold work is R·|word| per distinct word.
  *
  * Determinism: merge choice is (count DESC, pair ASC) over exact
  * BIGINT counts; application is a deterministic fold; everything
  * replays in DuckDB (the q88 oracle unrolls the R rounds and applies
  * merges with list_reduce — the q32 fold-replay idiom). No floating
  * point anywhere.
  */
object BpeTokens {

  /** Greedy left-to-right application of ONE merge — the classic BPE
    * scan: if the last emitted symbol is `a` and the next is `b`, fuse
    * them (so "aaaa" + (a,a) → [aa, aa], "aaa" → [aa, a]). Plain-Scala
    * reference shared by training and the spec.
    */
  private[graft] def applyMerge(syms: Vector[String], a: String,
                                b: String): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
      else acc :+ s
    }

  /** Train up to `rounds` merge rules on a (word, count) table: each
    * round counts adjacent symbol pairs weighted by word frequency
    * (overlaps count, the standard definition) and merges the most
    * frequent pair, ties broken by lexicographically smallest (a, b).
    * Stops early if no pairs remain.
    */
  private[graft] def train(wordCounts: Seq[(String, Long)],
                           rounds: Int): Seq[(String, String)] = {
    var seqs = wordCounts.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = Seq.newBuilder[(String, String)]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, c) <- seqs; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) += c
      if (pc.isEmpty) done = true
      else {
        val (a, b) = pc.toSeq.minBy { case ((x, y), c) => (-c, x, y) }._1
        merges += ((a, b))
        seqs = seqs.map { case (syms, c) => (applyMerge(syms, a, b), c) }
      }
      r += 1
    }
    merges.result()
  }

  /** Character array of a word — mirrors the oracle's
    * `[word[j] for j in range(1, len(word)+1)]` exactly.
    */
  private def charsOf(word: Column): Column =
    transform(sequence(lit(1), length(word)), j => substr(word, j, lit(1)))

  /** One merge as a scan-local greedy fold (aggregate() HOF — the
    * sequential left-to-right scan a parallel HOF can't express,
    * exactly DuckDB's list_reduce). `get` is out-of-bounds-null-safe,
    * so the empty-accumulator first step takes the else branch under
    * ANSI mode.
    */
  private def applyMergeCol(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(get(acc, size(acc) - 1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Memoized trained model per (corpus, topW, rounds): the merge list
    * + the staged word-frequency table it was trained from (vocab-sized
    * — the model table). The Ann.staged index-memo discipline: a trained
    * tokenizer is a reusable deployment artifact.
    */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Int),
      (Seq[(String, String)], DataFrame)]()

  private[graft] def model(docs: DataFrame, idCol: String, textCol: String,
                           topW: Int, rounds: Int)
      : (Seq[(String, String)], DataFrame) = {
    val planKey = docs.queryExecution.analyzed.canonicalized.toString +
      "@" + System.identityHashCode(docs.sparkSession)
    memo.computeIfAbsent((planKey, textCol, topW, rounds), _ => {
      val wcnt = docs
        .select(explode(split(col(textCol), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("wc"))
        .localCheckpoint()
      val top = wcnt.orderBy(col("wc").desc, col("word").asc).limit(topW)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      (train(top, rounds), wcnt)
    })
  }

  /** Per-doc token counts under the trained vocabulary. Output
    * (doc_id, n_words, n_bpe_tokens).
    */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     topW: Int = 256, rounds: Int = 24): DataFrame = {
    val (merges, wcnt) = model(docs, idCol, textCol, topW, rounds)
    // token count per DISTINCT word: R chained folds over the char
    // array — the frequency table's keys ARE the distinct words
    val folded = merges.foldLeft(charsOf(col("word"))) {
      case (c, (a, b)) => applyMergeCol(c, a, b)
    }
    val wtok = wcnt.select(col("word"), size(folded).cast("long").as("nt"))
    docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(wtok, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_bpe_tokens"))
  }
}
