package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenizer-training operators: byte-pair-encoding merge learning
  * (Sennrich et al. 2016, the public BPE algorithm GPT/Llama-family
  * tokenizers build on) over the corpus word-frequency table.
  *
  * Scale design: BPE trains on the WORD-FREQUENCY table, not the
  * corpus — one corpus-size explode+count builds it, and every merge
  * round is an aggregate + a narrow symbol-array rewrite over that
  * vocabulary-sized frame (Heaps' law: ~10⁷-10⁸ rows at 100 TB, a
  * trivial Spark job). The argmax pair per round is one tiny sorted
  * limit(1); rounds materialize the rewritten vocab so lineage stays
  * flat (q91's iteration discipline). The corpus is touched exactly
  * once.
  */
object TokenizerOps {

  private val NMerges = 8
  // unroll depth of the q105 encode-fixpoint oracle: bounds word length
  // at FixRounds + 1 chars (see the q105 oracle comment; over-length
  // words fail LOUDLY with a NULL count, never silently)
  private val FixRounds = 40

  /** The corpus word stream — ONE definition shared with the LM tier
    * (LmOps.tokenizedOf's tokenization), so BPE trains on exactly the
    * word stream the perplexity/DSIR models see. */
  private def words(d: DataFrame): DataFrame =
    LmOps.tokenizedOf(d)
      .select(col("doc_id"), explode(col("w")).as("word"))
      .filter(length(col("word")) >= 1)

  /** (word, freq, syms) — the BPE training table: distinct corpus words
    * with frequencies, each word split into single-character symbols. */
  private def wordTable(d: DataFrame): DataFrame =
    Staging.materialize(words(d)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("word"), "")), "bpe_words")

  /** One greedy left-to-right merge pass of the pair (l, r) over a
    * symbol-array column — shared verbatim by training and encoding so
    * the two halves cannot drift, and by WordPieceOps (whose merged
    * symbol drops the `##` continuation marker, hence the explicit
    * `merged` argument). Column-parameterized: symbols are corpus
    * text, never spliced into an expr string. After a merge the new
    * last symbol `merged` (= l + payload of r) can never equal `l`
    * again in the same pass (r's payload is non-empty), so the fold
    * needs no overlap flag to match the reference algorithm's one-pass
    * semantics. */
  private[operators] def mergeFoldColTo(syms: org.apache.spark.sql.Column,
      l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column,
      merged: org.apache.spark.sql.Column) =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === l && s === r,
          concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
          .otherwise(concat(acc, array(s))))

  private def mergeFoldCol(syms: org.apache.spark.sql.Column,
      l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =
    mergeFoldColTo(syms, l, r, concat(l, r))

  private def mergeFold(syms: org.apache.spark.sql.Column, l: String, r: String) =
    mergeFoldCol(syms, lit(l), lit(r))

  /** Learn `n` BPE merges: each round counts adjacent symbol pairs
    * weighted by word frequency, picks the most frequent (ties broken
    * lexicographically), and rewrites every word's symbol array with
    * the greedy left-to-right merge. Returns (left, right, pairFreq)
    * per round, most-frequent first. */
  def bpeMerges(d: DataFrame, n: Int = NMerges): Seq[(String, String, Long)] =
    bpeMergesFrom(wordTable(d), n)

  /** Merge learning over an already-built (word, freq, syms) table, so
    * a caller that also encodes (q105) builds the table once. */
  def bpeMergesFrom(table: DataFrame, n: Int = NMerges): Seq[(String, String, Long)] = {
    var cur = table
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var round = 0
    while (round < n) {
      val top = cur.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) as l, element_at(syms, i + 1) as r))""".stripMargin)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        // Spark string order is binary UTF-8 = code-point order; the
        // spec's reference tie-break compares by code points to match
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) return out.toSeq
      val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      out += ((l, r, c))
      round += 1
      // the final round's rewrite is never read — skip the dead job
      if (round < n)
        cur = Staging.materialize(cur.withColumn("syms", mergeFold(col("syms"), l, r)),
          s"bpe_round$round")
    }
    out.toSeq
  }

  /** The full training trajectory as DuckDB CTEs — the lloydSqlCtes
    * convention (ClusterOps): every round is replayed independently by
    * the oracle, so q104/q105 are checked bit-for-bit, not smoke-tested.
    *
    * The symbol-array state is a delimited STRING: each word's symbols
    * joined by double spaces with double-space sentinels at both ends
    * (`"  a  b  "`), legal because tokens are whitespace-split and so
    * can never contain a space. The greedy left-to-right merge fold
    * (`mergeFoldColTo`) is then EXACTLY SQL `replace(s, ' l  r ',
    * ' lr ')`: both scan the original symbols left-to-right,
    * non-overlapping, and a replacement consumes one sentinel space
    * from each side so neighbours' delimiters survive — including the
    * l = r run case ("aaa" merges positions 1-2, not 2-3, in both).
    * Newly created symbols never re-match in the same pass in either
    * form (replace matches against the original string; the fold's
    * merged symbol l+r can never equal l).
    *
    * Ends with `st0` (initial single-char state, the encode oracle's
    * starting point), `pr$r`/`best$r` per round (pair counts + argmax),
    * and `st$r` rewritten states. Tie-breaks (count desc, then l, r)
    * agree across engines: DuckDB compares UTF-8 bytes = code points;
    * Spark compares UTF-16 code units, identical below U+E000 —
    * the corpus alphabet is ASCII. */
  private[graft] def bpeSqlCtes: String = {
    val head = raw"""tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
      wstream AS MATERIALIZED (SELECT doc_id, unnest(w) AS word FROM tok),
      st0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq,
          regexp_replace(word, '(.)', '  \1', 'g') || '  ' AS s
        FROM wstream WHERE length(word) >= 1 GROUP BY word)"""
    val rounds = (1 to NMerges).map { r =>
      val rewrite =
        if (r >= NMerges) "" // final round's rewrite is never read (training skips it too)
        else s""",
      st$r AS MATERIALIZED (SELECT word, freq,
        replace(st${r - 1}.s, ' '||b.l||'  '||b.r||' ', ' '||b.l||b.r||' ') AS s
        FROM st${r - 1}, best$r b)"""
      s"""pr$r AS (
        SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS c
        FROM (SELECT freq, string_split(s, '  ') AS syms FROM st${r - 1}),
             unnest(range(2, len(syms)-1)) AS u(i)
        GROUP BY 1, 2),
      best$r AS MATERIALIZED (SELECT l, r, c FROM pr$r ORDER BY c DESC, l, r LIMIT 1)$rewrite"""
    }.mkString(",\n      ")
    head + ",\n      " + rounds
  }

  /** The rank-ordered merge list `mm(rank, l, r)` the q105 encode
    * oracle's fixpoint rounds select from. */
  private[graft] def bpeMergesSqlCte: String =
    "mm AS (" + (1 to NMerges).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rank, l, r FROM best$r").mkString(" UNION ALL ") + ")"

  /** The learned merge table as an inspectable operator output,
    * oracle-checked by replaying all [[NMerges]] training rounds as
    * chained DuckDB CTEs ([[bpeSqlCtes]]). */
  val q104BpeMerges: QueryDef = QueryDef(
    "q104_bpe_merges",
    (s, dir) => {
      val merges = bpeMerges(Tables.loadParallel(s, dir, "documents"))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        merges.zipWithIndex.map { case ((l, r, c), i) =>
          org.apache.spark.sql.Row(i.toLong + 1, l, r, l + r, c)
        }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("left",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("right",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("merged",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("pair_freq",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .orderBy(col("rank"))
    },
    Some(s"""WITH $bpeSqlCtes,
      merges AS (${(1 to NMerges).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS rank, l AS "left", r AS "right", l||r AS merged, c AS pair_freq FROM best$r""").mkString(" UNION ALL ")})
      SELECT rank, "left", "right", merged, pair_freq FROM merges ORDER BY rank"""))

  /** Lowest-rank merge applicable to a `syms` column, or null: the
    * learned merge list is a rank-ordered literal array (broadcast as
    * part of the plan), filtered to pairs present among the word's
    * adjacent symbols; element 1 of the survivor list is the
    * lowest-rank applicable merge — exactly the min-rank bigram lookup
    * canonical encoders perform per iteration. */
  private def bestMergeExpr(merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val mergeLit = array(merges.map { case (l, r) =>
      struct(lit(l).as("l"), lit(r).as("r")) }: _*)
    // size < 2 guard: sequence(1, 0) is DESCENDING in Spark, not empty
    val pairs = expr(
      """case when size(syms) < 2 then array()
        |else transform(sequence(1, size(syms) - 1),
        |  i -> struct(element_at(syms, i) as l, element_at(syms, i + 1) as r))
        |end""".stripMargin)
    try_element_at(
      filter(mergeLit, m =>
        exists(pairs, p =>
          p.getField("l") === m.getField("l") && p.getField("r") === m.getField("r"))),
      lit(1))
  }

  /** Canonical BPE encoding (Sennrich `apply_bpe`, GPT-2/HF semantics)
    * of a (…, syms) frame: repeatedly merge all occurrences of the
    * LOWEST-rank pair present in each word (greedy left-to-right),
    * re-scanning after every application — so a later merge that
    * recreates an earlier-rank pair gets picked up, where a single
    * rank-order pass would miss it. The fixpoint loop is corpus-wide:
    * each round every word applies its own current min-rank pair (a
    * narrow columnar rewrite), and the loop ends when no word has an
    * applicable pair. Terminates because every application strictly
    * shrinks some word's symbol count; round count ≤ merges applied to
    * the longest word. Rounds materialize so lineage stays flat
    * (q91's iteration discipline). */
  def encodeSyms(wordSyms: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    if (merges.isEmpty) return wordSyms
    var cur = wordSyms
    var iter = 0
    var remaining = 1L
    while (remaining > 0) {
      require(iter < 1000, s"BPE fixpoint did not converge in $iter rounds")
      val withBest = Staging.materialize(
        cur.withColumn("best", bestMergeExpr(merges)), s"bpe_fix$iter")
      remaining = withBest.filter(col("best").isNotNull).count()
      cur = withBest
        .withColumn("syms", when(col("best").isNotNull,
            mergeFoldCol(col("syms"), col("best.l"), col("best.r")))
          .otherwise(col("syms")))
        .drop("best")
      iter += 1
    }
    cur
  }

  /** Apply learned merges to the corpus — the downstream half of
    * training, with canonical fixpoint semantics (`encodeSyms`),
    * reporting per-doc symbol counts before/after.
    *
    * Scale design: each DISTINCT word is encoded exactly once — the
    * fixpoint loop runs over the vocabulary-sized word table (Heaps'
    * law: ~10⁷-10⁸ rows at 100 TB), and the per-word segmentation
    * joins back onto the corpus word stream by equi-key (AQE
    * broadcasts it at small vocabularies). This is the word-cache
    * every production tokenizer keeps, expressed relationally; the
    * corpus itself is touched exactly once.
    *
    * Oracle: the training replay ([[bpeSqlCtes]]) feeds an UNROLLED
    * fixpoint chain — [[FixRounds]] idempotent rounds, each applying a
    * word's lowest-rank applicable merge to all its occurrences via
    * the same `replace` that proved the fold equivalence (a WITH
    * RECURSIVE form was rejected: DuckDB 1.0 silently loses
    * MATERIALIZED CTE contents referenced from a recursive member, and
    * the unmaterialized chain re-evaluates 2^NMerges times). The bound
    * covers words of FixRounds + 1 chars; a longer word would still
    * carry an applicable merge at the end and gets a NULL count — a
    * loud mismatch, never a silent undercount.
    * TokenizerOpsSpec additionally proves per-doc token counts equal an
    * independent canonical reference encoder, plus a direct test
    * vector where the fixpoint and one-pass-per-rank variants differ. */
  val q105BpeEncode: QueryDef = QueryDef(
    "q105_bpe_encode",
    (s, dir) => {
      val d = Tables.loadParallel(s, dir, "documents")
      val table = wordTable(d)
      val merges = bpeMergesFrom(table).map { case (l, r, _) => (l, r) }
      val vocab = encodeSyms(table.select(col("word"), col("syms")), merges)
        .select(col("word"), size(col("syms")).as("n_syms"))
      words(d).join(vocab, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(sum(length(col("word"))).as("n_chars"),
          sum(col("n_syms")).as("n_bpe_tokens"),
          count(lit(1)).as("n_words"))
        .withColumn("compression",
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6))
        .orderBy(col("doc_id"))
    },
    Some {
      // the fixpoint unrolled: each round rewrites every word with ITS
      // OWN lowest-rank applicable merge (all occurrences, the same
      // `replace` that proved the fold equivalence) and is idempotent
      // once no merge applies. FixRounds bounds words of FixRounds+1
      // chars (one application per round strictly shrinks a word); a
      // longer-than-bound word would still carry an applicable merge at
      // the end and gets a NULL count — a loud mismatch, never a silent
      // undercount. Unrolled (not WITH RECURSIVE) because DuckDB 1.0
      // silently loses MATERIALIZED CTE contents referenced from a
      // recursive member, and without materialization the round chain
      // re-evaluates 2^NMerges times.
      val fixRounds = (1 to FixRounds).map { t => s"""
      f$t AS MATERIALIZED (
        SELECT e.word,
          CASE WHEN b.l IS NULL THEN e.s
               ELSE replace(e.s, ' '||b.l||'  '||b.r||' ', ' '||b.l||b.r||' ') END AS s
        FROM f${t - 1} e LEFT JOIN (
          SELECT word, l, r FROM (
            SELECT e2.word, m.l, m.r,
              row_number() OVER (PARTITION BY e2.word ORDER BY m.rank) AS rn
            FROM f${t - 1} e2 JOIN mm m ON position(' '||m.l||'  '||m.r||' ' IN e2.s) > 0) x
          WHERE rn = 1) b USING (word))""" }.mkString(",")
      s"""WITH $bpeSqlCtes,
      $bpeMergesSqlCte,
      f0 AS MATERIALIZED (SELECT word, s FROM st0),$fixRounds,
      fin AS MATERIALIZED (SELECT word, s,
          (length(s) - length(replace(s, ' ', ''))) // 2 - 1 AS n0 FROM f$FixRounds),
      unconv AS (SELECT DISTINCT e.word FROM fin e
        JOIN mm m ON position(' '||m.l||'  '||m.r||' ' IN e.s) > 0),
      vocab AS (SELECT fl.word, CASE WHEN u.word IS NULL THEN fl.n0 END AS n_syms
        FROM fin fl LEFT JOIN unconv u USING (word))
      SELECT w.doc_id,
        CAST(sum(length(w.word)) AS BIGINT) AS n_chars,
        CAST(sum(v.n_syms) AS BIGINT) AS n_bpe_tokens,
        CAST(count(*) AS BIGINT) AS n_words,
        round(CAST(sum(length(w.word)) AS DOUBLE) / sum(v.n_syms), 6) AS compression
      FROM wstream w JOIN vocab v USING (word)
      GROUP BY w.doc_id ORDER BY w.doc_id"""
    })

  val all: Seq[QueryDef] = Seq(q104BpeMerges, q105BpeEncode)
}
