package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Qutil.rnd

/** Duplicated-substring detection: which token windows of each document
  * also occur elsewhere in the corpus, and how much of the document they
  * cover. The operator behind exact-substring deduplication of LLM
  * training data (train-set memorization comes from repeated SPANS, not
  * only repeated documents — the motivation for suffix-array dedup;
  * additive beyond the reference's surface, which stops at whole-vector
  * similarity).
  *
  * The Spark-native formulation replaces the suffix array with a
  * distributed window group-by: every w-token sliding window is exploded
  * once, counted corpus-wide (hash-partitioned, map-side combined), and
  * windows with total occurrence count ≥ `minCount` are joined back to
  * their positions — two shuffles total (the count group-by and the
  * dup-window equi-join; the span-union aggregation re-shuffles only
  * duplicated positions). No quadratic pair work anywhere: cost is
  * O(total tokens) rows through a hash shuffle, exactly how MinHash
  * shingles already flow at 100 TB.
  *
  * Everything is exact integer arithmetic over window strings, so the
  * whole pipeline is cross-engine oracle-checkable; the only rounding is
  * the final 1e-6 coverage fraction (fixed-point floor form both sides).
  */
object NgramDup {

  /** Per-document duplicated-span stats over `w`-token windows:
    * (doc_id, n_tokens, n_windows, dup_windows, dup_tokens, dup_frac)
    * where dup_windows counts window positions whose window string occurs
    * ≥ `minCount` times corpus-wide, dup_tokens is the size of the UNION
    * of those windows' token spans (the Lee-et-al-style coverage number —
    * overlapping duplicated windows are not double-counted), and dup_frac
    * = dup_tokens / n_tokens rounded to 1e-6. Every document gets a row
    * (docs shorter than `w` tokens have zero windows).
    *
    * `hashKey = true` swaps the shuffle key from the window STRING to a
    * chained 64-bit token hash emitted by a typed kernel
    * ([[hashedWindowRows]]) — identical results modulo 64-bit collisions
    * (~n²/2⁶⁴), at 8 bytes of shuffle per window instead of the full
    * text AND ~7x less map CPU (measured, BASELINE.md round 9). That
    * is the 100 TB configuration; the default keeps exact strings so the
    * result is collision-free and cross-engine oracle-checkable.
    */
  /** (doc_id, ts) token arrays and (doc_id, i, win) window rows — the
    * shared front of detection and trim (1-based starts; window i
    * covers tokens i..i+w-1), so the tokenizer/window definition cannot
    * drift between the two. */
  private def windowRows(docs: DataFrame, w: Int, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("ts"))
    val winExpr =
      s"transform(sequence(1, size(ts) - ${w} + 1), i -> array_join(slice(ts, i, $w), ' '))"
    val wins = toks.filter(size(col("ts")) >= w)
      .select(col("doc_id"), posexplode(expr(winExpr)).as(Seq("i0", "win")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("i"), col("win"))
    (toks, wins)
  }

  /** [[windowRows]] with TOKEN-HASH window keys from a TYPED KERNEL (the
    * `hashKey = true` path): tokenize, hash each token once (XXH64 —
    * Spark's own shuffle-hash primitive), chain-combine the w token
    * hashes per window in a tight JVM loop — the window STRING is never
    * built and no expression lambda runs. Measured motivation
    * (BASELINE.md round 9): the declarative explode path costs ~9 µs
    * per window REGARDLESS of key type — string building vs
    * lambda-chained hashing was a wash because the interpreted
    * higher-order-function machinery dominates, so the hot O(total
    * tokens) map work gets the mapPartitions tier (SURVEY §7.3 order:
    * compose → Expression → kernel, with the kernel justified by the
    * measurement). Collisions: windows differing in any token differ in
    * their token-hash sequence; the chained combine keeps the n²/2⁶⁴
    * pair bound of hashing the string.
    *
    * Tokenization is SQL-PARITY by construction: trim() strips U+0020
    * only and split keeps empty trailing tokens (Java limit -1), so
    * (doc_id, i) positions line up exactly with the `toks` array the
    * stats/trim consumers index into. */
  private def hashedWindowRows(docs: DataFrame, w: Int, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("ts"))
    val spark = docs.sparkSession
    import spark.implicits._
    val wins = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val pat = java.util.regex.Pattern.compile("\\s+")
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            var b = 0; var e = text.length
            while (b < e && text.charAt(b) == ' ') b += 1
            while (e > b && text.charAt(e - 1) == ' ') e -= 1
            val ts = pat.split(text.substring(b, e), -1)
            val n = ts.length
            if (n < w) Iterator.empty
            else {
              val hs = new Array[Long](n)
              var j = 0
              while (j < n) {
                val bs = ts(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
                hs(j) = org.apache.spark.sql.catalyst.expressions.XXH64
                  .hashUnsafeBytes(bs,
                    org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                    bs.length, 42L)
                j += 1
              }
              (1 to n - w + 1).iterator.map { i =>
                var acc = 42L
                var k = i - 1
                while (k < i - 1 + w) {
                  acc = org.apache.spark.sql.catalyst.expressions.XXH64
                    .hashLong(hs(k), acc)
                  k += 1
                }
                (id, i.toLong, acc)
              }
            }
          }
        }
      }
      .toDF("doc_id", "i", "win")
    (toks, wins)
  }

  /** Window keys occurring ≥ `minCount` times corpus-wide. Partial-agg
    * shape: the map-side combine caps ANY key — including a corpus-wide
    * stop-phrase — at one row per map task through the exchange, so the
    * count never skews. (Sharing the probe's full-row exchange instead
    * was tried and measured WORSE: Catalyst prunes the count's input to
    * `win` only, so the exchange child can never canonically match the
    * probe's and the explode runs twice either way — at least this shape
    * ships combined counts, not every occurrence row.) */
  private def dupKeysOf(wins: DataFrame, minCount: Int): DataFrame =
    wins.groupBy("win").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select("win")

  def dupNgramStats(docs: DataFrame, w: Int = 8, minCount: Int = 2,
      idCol: String = "doc_id", textCol: String = "text",
      hashKey: Boolean = false): DataFrame = {
    require(w >= 1 && minCount >= 2)
    val (toks, wins) =
      if (hashKey) hashedWindowRows(docs, w, idCol, textCol)
      else windowRows(docs, w, idCol, textCol)
    val dupKeys = dupKeysOf(wins, minCount)
    val dupw = wins.join(dupKeys, Seq("win")).select("doc_id", "i")
    // dup_windows + dup_tokens in ONE doc-keyed pass: the union size of
    // sorted spans [s, s+w) is sum(min(w, next-s)) + w in-row — replaces
    // the w-times position explode + countDistinct shuffle (8x row
    // amplification, and the HOT window's rows amplified with it)
    val perDocDup = dupw.groupBy("doc_id")
      .agg(count(lit(1)).as("dup_windows"),
        sort_array(collect_list(col("i"))).as("ss"))
      .select(col("doc_id"), col("dup_windows"), expr(
        s"""aggregate(sequence(0, size(ss) - 1), CAST(0 AS BIGINT),
           |  (acc, j) -> acc + IF(j = size(ss) - 1, CAST($w AS BIGINT),
           |    least(CAST($w AS BIGINT), ss[j + 1] - ss[j])))"""
          .stripMargin).as("dup_tokens"))
    val perdoc = toks.select(col("doc_id"),
      size(col("ts")).cast("long").as("n_tokens"),
      greatest(size(col("ts")) - (w - 1), lit(0)).cast("long").as("n_windows"))
    perdoc
      .join(perDocDup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        rnd(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_frac"))
  }

  /** Exact-substring dedup TRIMMING — the rewrite step of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better": keep
    * the FIRST occurrence of every duplicated `w`-token window and drop
    * the tokens covered by every other occurrence, rebuilding each
    * document from its surviving tokens.
    *
    * Canonical occurrence per window string = min (doc_id, start) —
    * computed as a map-side-combinable `min(struct(...))` aggregation,
    * NOT a per-window rank window (a Zipf-popular window at corpus
    * scale would funnel millions of occurrences through one window
    * partition; the group-by min has no such skew). A token is dropped
    * iff some NON-canonical duplicated-window occurrence covers it, so
    * overlapping duplicate spans union exactly as in [[dupNgramStats]].
    * Rebuild is one ordered in-row array fold per doc (sort_array of
    * (pos, token) structs), no extra shuffle beyond the token group-by.
    *
    * Returns (doc_id, n_tokens, n_kept, trim_frac, clean_text) for
    * EVERY doc (docs with no duplicated coverage keep their exact
    * token sequence; text is re-joined with single spaces). Exact
    * integer pipeline — cross-engine oracle-checkable via
    * [[trimDuckdbSql]]. */
  def trimDuplicates(docs: DataFrame, w: Int = 8, minCount: Int = 2,
      idCol: String = "doc_id", textCol: String = "text",
      hashKey: Boolean = false, keepToks: Boolean = false): DataFrame = {
    require(w >= 1 && minCount >= 2)
    // hashKey: the 100 TB configuration, exactly as in dupNgramStats —
    // the canonical-occurrence min(struct(doc_id, i)) is key-agnostic
    val (toks, wins) =
      if (hashKey) hashedWindowRows(docs, w, idCol, textCol)
      else windowRows(docs, w, idCol, textCol)
    val dupKeys = dupKeysOf(wins, minCount)
    val occ = wins.join(dupKeys, Seq("win"))
    val canon = occ.groupBy("win")
      .agg(min(struct(col("doc_id"), col("i"))).as("cn"))
    val nonCanon = occ.join(canon, Seq("win"))
      .filter(col("doc_id") =!= col("cn.doc_id") || col("i") =!= col("cn.i"))
    val drops = nonCanon
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (w - 1))).as("p"))
      .distinct()
    val tokRows = toks
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("tok"))
    val rebuilt = tokRows.join(drops, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)")
          .as("clean_toks"))
      .withColumn("clean_text", array_join(col("clean_toks"), " "))
    val base = toks
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        rnd(lit(1.0) - coalesce(col("n_kept"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 6).as("trim_frac"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("clean_toks"))
    // keepToks: the TOKENIZE-ONCE handoff (VERDICT r10 #3) — downstream
    // stages (quality LR grams, perplexity cut) consume the kept-token
    // array directly instead of re-splitting clean_text, so the chain
    // tokenizes each doc exactly once. clean_toks is the AUTHORITATIVE
    // kept sequence: re-splitting clean_text collapses boundary empty
    // tokens (a doc whose surviving tokens start/end with "" — only
    // possible when the source text had runs of spaces), so the carried
    // array, not a re-split, is what downstream must use. A fully
    // trimmed doc carries array('') — exactly split(trim('')).
    if (keepToks)
      base.withColumn("clean_toks",
        coalesce(col("clean_toks"), array(lit(""))))
    else base.drop("clean_toks")
  }

  /** CTE chain of the [[trimDuplicates]] DuckDB twin, composable into a
    * larger WITH list: reads docs from `src` (a table or earlier CTE),
    * prefixes every CTE name with `p` (collision-proofing against the
    * enclosing query), and ends in CTE `<p>trimmed` with schema
    * (doc_id, n_tokens, n_kept, trim_frac, clean_text). */
  def trimDuckdbCtes(w: Int = 8, minCount: Int = 2,
      src: String = "documents", p: String = ""): String =
    s"""${p}toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
       |              FROM $src),
       | ${p}wins AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
       |    array_to_string(ts[i:i+${w - 1}], ' ') AS win
       |   FROM ${p}toks, LATERAL unnest(range(1, len(ts) - ${w} + 2)) AS t(i)
       |   WHERE len(ts) >= $w),
       | ${p}dupkeys AS (SELECT win FROM (SELECT win, count(*) AS c FROM ${p}wins
       |    GROUP BY win) WHERE c >= $minCount),
       | ${p}occ AS (SELECT w.doc_id, w.i, w.win FROM ${p}wins w
       |   JOIN ${p}dupkeys USING (win)),
       | ${p}canon AS (SELECT win,
       |    min(struct_pack(d := doc_id, i := i)) AS cn FROM ${p}occ GROUP BY win),
       | ${p}noncanon AS (SELECT o.doc_id, o.i FROM ${p}occ o
       |   JOIN ${p}canon USING (win)
       |   WHERE o.doc_id <> cn.d OR o.i <> cn.i),
       | ${p}drops AS (SELECT DISTINCT doc_id, p
       |   FROM ${p}noncanon, LATERAL unnest(range(i, i + $w)) AS u(p)),
       | ${p}tokrows AS (SELECT doc_id, CAST(p AS BIGINT) AS p, ts[p] AS tok
       |   FROM ${p}toks, LATERAL unnest(range(1, len(ts) + 1)) AS t(p)),
       | ${p}kept AS (SELECT t.doc_id, t.p, t.tok FROM ${p}tokrows t
       |   LEFT JOIN ${p}drops d ON t.doc_id = d.doc_id AND t.p = d.p
       |   WHERE d.doc_id IS NULL),
       | ${p}rebuilt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY p) AS clean_text
       |   FROM ${p}kept GROUP BY doc_id),
       | ${p}perdoc AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens
       |   FROM ${p}toks),
       | ${p}trimmed AS (SELECT p.doc_id, p.n_tokens,
       |  coalesce(r.n_kept, 0) AS n_kept,
       |  floor((1.0 - coalesce(r.n_kept, 0)*CAST(1 AS DOUBLE)/p.n_tokens)*1e6 + 0.5)/1e6
       |    AS trim_frac,
       |  coalesce(r.clean_text, '') AS clean_text
       |FROM ${p}perdoc p LEFT JOIN ${p}rebuilt r USING (doc_id))""".stripMargin

  /** DuckDB twin of [[trimDuplicates]]: same windows, same ≥`minCount`
    * cut, canonical = lexicographic-min (doc_id, start) via struct min,
    * same span union, rebuild by `string_agg(... ORDER BY p)`. */
  def trimDuckdbSql(w: Int = 8, minCount: Int = 2): String =
    s"""WITH ${trimDuckdbCtes(w, minCount)}
       |SELECT doc_id, n_tokens, n_kept, trim_frac, clean_text
       |FROM trimmed""".stripMargin

  /** DuckDB twin of [[dupNgramStats]] (hashKey = false): same tokenizer
    * (`string_split_regex(trim(text),'\s+')`), same 1-based window
    * positions, same ≥`minCount` corpus-wide cut, same span-union
    * coverage, same 1e-6 floor rounding. */
  def duckdbSql(w: Int = 8, minCount: Int = 2): String =
    s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
       |              FROM documents),
       | wins AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
       |    array_to_string(ts[i:i+${w - 1}], ' ') AS win
       |   FROM toks, LATERAL unnest(range(1, len(ts) - ${w} + 2)) AS t(i)
       |   WHERE len(ts) >= $w),
       | dupkeys AS (SELECT win FROM (SELECT win, count(*) AS c FROM wins
       |    GROUP BY win) WHERE c >= $minCount),
       | dupw AS (SELECT w.doc_id, w.i FROM wins w JOIN dupkeys USING (win)),
       | dcount AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows
       |   FROM dupw GROUP BY doc_id),
       | cover AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS dup_tokens
       |   FROM dupw, LATERAL unnest(range(i, i + $w)) AS u(p) GROUP BY doc_id),
       | perdoc AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
       |    CAST(greatest(len(ts) - ${w - 1}, 0) AS BIGINT) AS n_windows
       |   FROM toks)
       |SELECT p.doc_id, p.n_tokens, p.n_windows,
       |  coalesce(d.dup_windows, 0) AS dup_windows,
       |  coalesce(c.dup_tokens, 0) AS dup_tokens,
       |  floor((coalesce(c.dup_tokens, 0)*CAST(1 AS DOUBLE)/p.n_tokens)*1e6 + 0.5)/1e6
       |    AS dup_frac
       |FROM perdoc p LEFT JOIN dcount d USING (doc_id)
       | LEFT JOIN cover c USING (doc_id)""".stripMargin
}
