package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer training + encoding (Schuster & Nakajima 2012;
  * the BERT tokenizer, as published in the open-source reference
  * trainers): completes the tokenizer-family triple next to BPE
  * (TokenizerOps, merge by raw pair count) and Unigram-LM (UnigramOps,
  * prune by likelihood). WordPiece's distinguishing rule is the merge
  * SCORE — pair_count / (left_count · right_count), a pointwise
  * mutual-information-style ratio — so a rare pair of rare units can
  * beat a frequent pair of ubiquitous units; and its encoder is greedy
  * longest-match-first over the final vocabulary (maximum munch with
  * `##` continuation, whole-word [UNK] on failure), NOT merge replay.
  *
  * Scale design (the TokenizerOps contract): training runs on the
  * word-frequency table, never the corpus — each round is a pair-count
  * aggregate plus a unit-count aggregate over the SAME exploded frame,
  * a broadcast-joined score, one limit(1) argmax, and a narrow fold
  * rewrite, all over the vocabulary-sized table (Heaps' law keeps it
  * ~10⁷-10⁸ rows at 100 TB). Encoding touches each DISTINCT word once
  * (the word cache, relationally) with the final vocab broadcast, and
  * joins segment counts back onto the corpus word stream by equi-key.
  * The corpus is scanned exactly once per half.
  */
object WordPieceOps {

  private val NMerges = 8
  val Unk = "[UNK]"

  private def words(d: DataFrame): DataFrame =
    LmOps.tokenizedOf(d)
      .select(col("doc_id"), explode(col("w")).as("word"))
      .filter(length(col("word")) >= 1)

  /** WordPiece initial segmentation: first character bare, every
    * following character `##`-prefixed. */
  private[operators] val wpSyms: Column = expr(
    """transform(split(word, ''),
      |  (c, i) -> case when i = 0 then c else concat('##', c) end)""".stripMargin)

  /** (word, freq, syms) — the WordPiece training table. */
  private def wordTable(d: DataFrame): DataFrame =
    Staging.materialize(words(d)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", wpSyms), "wp_words")

  /** Learn `n` WordPiece merges. Each round, over the current symbol
    * arrays weighted by word frequency: count adjacent pairs AND unit
    * occurrences from one shared explosion, score each pair
    * c / (c_l · c_r), and merge the argmax (ties broken
    * lexicographically on (l, r) — both engines' string order is
    * code-point order for the corpus alphabet). Returns
    * (left, right, merged, score) per round. */
  def wpMerges(d: DataFrame, n: Int = NMerges): Seq[(String, String, String, Double)] =
    wpMergesFrom(wordTable(d), n)

  def wpMergesFrom(table: DataFrame, n: Int = NMerges): Seq[(String, String, String, Double)] = {
    var cur = table
    val out = scala.collection.mutable.ArrayBuffer[(String, String, String, Double)]()
    var round = 0
    while (round < n) {
      val exploded = cur.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) as l, element_at(syms, i + 1) as r))""".stripMargin)).as("p"))
      val pairCounts = exploded
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
      // unit occurrences over ALL words (single-symbol words included —
      // they contribute to unit counts even with no pairs)
      val unitCounts = cur
        .select(col("freq"), explode(col("syms")).as("u"))
        .groupBy(col("u")).agg(sum(col("freq")).as("cu"))
      val top = pairCounts
        .join(broadcast(unitCounts.select(col("u").as("l"), col("cu").as("cl"))), Seq("l"))
        .join(broadcast(unitCounts.select(col("u").as("r"), col("cu").as("cr"))), Seq("r"))
        .withColumn("score",
          col("c").cast("double") / (col("cl").cast("double") * col("cr").cast("double")))
        .orderBy(col("score").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) return out.toSeq
      val (l, r) = (top(0).getAs[String]("l"), top(0).getAs[String]("r"))
      val merged = l + r.stripPrefix("##")
      out += ((l, r, merged, top(0).getAs[Double]("score")))
      round += 1
      if (round < n)
        cur = Staging.materialize(cur.withColumn("syms",
          TokenizerOps.mergeFoldColTo(col("syms"), lit(l), lit(r), lit(merged))),
          s"wp_round$round")
    }
    out.toSeq
  }

  /** The training trajectory as DuckDB CTEs — TokenizerOps.bpeSqlCtes'
    * convention, with WordPiece's two deltas: the per-round score is
    * `c / (c_l · c_r)` (both counts from the same round's state; the
    * division and product are single correctly-rounded IEEE ops on
    * integer-valued doubles, so both engines produce the same bits and
    * the same argmax), and the merged symbol drops the right unit's
    * `##` continuation marker. State CTEs are MATERIALIZED: DuckDB
    * inlines plain CTEs per reference, and each round reads its
    * predecessor three times (pair counts, unit counts, rewrite) —
    * 3^8 re-evaluations without the hint. Ends with `wst$r`,
    * `wbest$r(l, r, merged, score)` per round. */
  private[graft] def wpSqlCtes: String = {
    val head = raw"""tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
      wstream AS MATERIALIZED (SELECT doc_id, unnest(w) AS word FROM tok),
      wst0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq,
          '  ' || substr(word, 1, 1) || regexp_replace(substr(word, 2), '(.)', '  ##\1', 'g') || '  ' AS s
        FROM wstream WHERE length(word) >= 1 GROUP BY word)"""
    val rounds = (1 to NMerges).map { r =>
      val rewrite =
        if (r >= NMerges) "" // final round's rewrite is never read
        else s""",
      wst$r AS MATERIALIZED (SELECT word, freq,
        replace(wst${r - 1}.s, ' '||b.l||'  '||b.r||' ', ' '||b.merged||' ') AS s
        FROM wst${r - 1}, wbest$r b)"""
      s"""wpc$r AS (
        SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS c
        FROM (SELECT freq, string_split(s, '  ') AS syms FROM wst${r - 1}),
             unnest(range(2, len(syms)-1)) AS u(i)
        GROUP BY 1, 2),
      wuc$r AS (
        SELECT syms[i] AS u, CAST(sum(freq) AS BIGINT) AS cu
        FROM (SELECT freq, string_split(s, '  ') AS syms FROM wst${r - 1}),
             unnest(range(2, len(syms))) AS t(i)
        GROUP BY 1),
      wbest$r AS MATERIALIZED (
        SELECT p.l, p.r, p.l || regexp_replace(p.r, '^##', '') AS merged,
          CAST(p.c AS DOUBLE) / (CAST(cl.cu AS DOUBLE) * CAST(cr.cu AS DOUBLE)) AS score
        FROM wpc$r p JOIN wuc$r cl ON cl.u = p.l JOIN wuc$r cr ON cr.u = p.r
        ORDER BY score DESC, p.l, p.r LIMIT 1)$rewrite"""
    }.mkString(",\n      ")
    head + ",\n      " + rounds
  }

  /** The learned merge table, oracle-checked by replaying all
    * [[NMerges]] score-argmax rounds as chained DuckDB CTEs
    * ([[wpSqlCtes]]); WordPieceOpsSpec additionally proves merges
    * equal an independent canonical reference trainer. */
  val q140WpMerges: QueryDef = QueryDef(
    "q140_wordpiece_merges",
    (s, dir) => {
      val merges = wpMerges(Tables.loadParallel(s, dir, "documents"))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        merges.zipWithIndex.map { case ((l, r, m, sc), i) =>
          org.apache.spark.sql.Row(i.toLong + 1, l, r, m, sc)
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
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
        .orderBy(col("rank"))
    },
    Some(s"""WITH $wpSqlCtes,
      merges AS (${(1 to NMerges).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS rank, l AS "left", r AS "right", merged, score FROM wbest$r""").mkString(" UNION ALL ")})
      SELECT rank, "left", "right", merged, score FROM merges ORDER BY rank"""))

  /** The final vocabulary: every initial unit of the corpus plus the
    * merged tokens, exactly what the published trainer emits (alphabet
    * first, then merges in rank order). */
  def wpVocab(table: DataFrame, merges: Seq[(String, String, String)]): Set[String] = {
    val alphabet = table.select(explode(wpSyms).as("u"))
      .distinct().collect().map(_.getString(0)).toSet
    alphabet ++ merges.map(_._3)
  }

  /** Canonical WordPiece encoding: greedy longest-match-first against
    * the vocabulary; non-initial pieces carry `##`; a word with no
    * matchable prefix at any position becomes one [UNK]. Driver-side
    * pure function — the single word-level step the distributed encoder
    * applies per DISTINCT word (vocab broadcast with the closure). */
  def encodeWord(word: String, vocab: Set[String]): Seq[String] = {
    if (word.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < word.length) {
      val prefix = if (i == 0) "" else "##"
      var j = word.length
      var hit: String = null
      while (j > i && hit == null) {
        val cand = prefix + word.substring(i, j)
        if (vocab.contains(cand)) hit = cand else j -= 1
      }
      if (hit == null) return Seq(Unk)
      out += hit
      i = j
    }
    out.toSeq
  }

  /** Per-doc WordPiece token counts: train, build the vocab, encode
    * each DISTINCT word once (greedy longest match, vocab broadcast),
    * join the segmentation back onto the corpus word stream.
    *
    * Oracle: the training replay ([[wpSqlCtes]]) builds the vocab
    * (initial units + merged tokens), a jump table gives each (word,
    * position) its greedy longest-match length, and POINTER DOUBLING
    * walks the maximum-munch path in 6 self-joins (2^6 = 64 pieces —
    * any whitespace token; a longer word yields a NULL piece count, a
    * loud mismatch, never a silent undercount). Doubling instead of a
    * recursive CTE because DuckDB 1.0 silently loses MATERIALIZED CTE
    * contents referenced from a recursive member at this query size.
    * WordPieceOpsSpec additionally pins counts against the independent
    * reference encoder — including a vector where WordPiece's
    * score-based merge choice DIFFERS from BPE's count-based choice. */
  val q141WpEncode: QueryDef = QueryDef(
    "q141_wordpiece_encode",
    (s, dir) => {
      val d = Tables.loadParallel(s, dir, "documents")
      val table = wordTable(d)
      val merges = wpMergesFrom(table).map { case (l, r, m, _) => (l, r, m) }
      val vocab = wpVocab(table, merges)
      val enc = udf((w: String) => encodeWord(w, vocab))
      val segmented = table.select(col("word"),
        enc(col("word")).as("pieces"))
        .select(col("word"), size(col("pieces")).as("n_pieces"),
          (element_at(col("pieces"), 1) === Unk).as("is_unk"))
      words(d).join(segmented, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(sum(length(col("word"))).as("n_chars"),
          sum(col("n_pieces")).as("n_wp_tokens"),
          sum(when(col("is_unk"), 1L).otherwise(0L)).as("n_unk_words"),
          count(lit(1)).as("n_words"))
        .withColumn("compression",
          round(col("n_chars").cast("double") / col("n_wp_tokens"), 6))
        .orderBy(col("doc_id"))
    },
    Some {
      val doublings = (0 until 6).map(k => s""",
      j${k + 1} AS MATERIALIZED (
        SELECT a.word, a.i,
          CASE WHEN a.unk OR a.nxt >= length(a.word) THEN a.nxt ELSE b.nxt END AS nxt,
          CASE WHEN a.unk OR a.nxt >= length(a.word) THEN a.cnt ELSE a.cnt + b.cnt END AS cnt,
          CASE WHEN a.unk THEN true WHEN a.nxt >= length(a.word) THEN false ELSE b.unk END AS unk
        FROM j$k a LEFT JOIN j$k b ON b.word = a.word AND b.i = a.nxt)""").mkString
      s"""WITH $wpSqlCtes,
      wmm AS (${(1 to NMerges).map(r => s"SELECT merged FROM wbest$r").mkString(" UNION ALL ")}),
      wvocab AS MATERIALIZED (
        SELECT DISTINCT u, (u LIKE '##%') AS cont,
          CASE WHEN u LIKE '##%' THEN substr(u, 3) ELSE u END AS payload
        FROM (
          SELECT substr(word, 1, 1) AS u FROM wst0
          UNION
          SELECT '##' || substr(word, j, 1) FROM wst0, unnest(range(2, length(word)+1)) t(j)
          UNION
          SELECT merged FROM wmm)
      ),
      pos AS MATERIALIZED (SELECT word, t.i FROM wst0, unnest(range(0, length(word))) t(i)),
      j0 AS MATERIALIZED (
        SELECT jm.word, jm.i,
          CASE WHEN jm.best IS NULL THEN NULL ELSE jm.i + jm.best END AS nxt,
          1 AS cnt, jm.best IS NULL AS unk
        FROM (
          SELECT p.word, p.i, max(length(v.payload)) AS best
          FROM pos p
          LEFT JOIN wvocab v ON v.cont = (p.i > 0)
            AND v.payload = substr(p.word, p.i + 1, length(v.payload))
          GROUP BY 1, 2) jm
      )$doublings,
      wseg AS (
        SELECT word,
          CASE WHEN unk THEN 1 WHEN nxt = length(word) THEN cnt END AS n_pieces,
          unk AS is_unk
        FROM j6 WHERE i = 0
      )
      SELECT w.doc_id,
        CAST(sum(length(w.word)) AS BIGINT) AS n_chars,
        CAST(sum(v.n_pieces) AS BIGINT) AS n_wp_tokens,
        CAST(sum(CASE WHEN v.is_unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words,
        CAST(count(*) AS BIGINT) AS n_words,
        round(CAST(sum(length(w.word)) AS DOUBLE) / sum(v.n_pieces), 6) AS compression
      FROM wstream w JOIN wseg v USING (word)
      GROUP BY w.doc_id ORDER BY w.doc_id"""
    })

  val all: Seq[QueryDef] = Seq(q140WpMerges, q141WpEncode)
}
