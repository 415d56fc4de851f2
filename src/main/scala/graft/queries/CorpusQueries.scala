package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.{dataops, Ann, Dedup, MediaProbes, Multimodal, TextOps, UrlOps}
import graft.geo.engine.GeoEngine
import graft.geo.expr.geo
import graft.queries.Inputs._

/** Corpus and data-operation queries: exact, incremental, n-gram, span
  * and near-dup dedup, decontamination, importance and LM scoring, text
  * statistics, URL normalization, sampling, packing, vector search,
  * multimodal features and the full corpus pipeline. */
private[graft] object CorpusQueries {

  /** documents with planted near-dups: every doc again under id "n<id>"
    * with its last word dropped. */
  private def plantedNearDups(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val edited = docs
      .withColumn("doc_id", concat(lit("n"), col("doc_id")))
      .withColumn("text", regexp_replace(col("text"), "\\s+\\S+$", ""))
    docs.unionByName(edited)
  }

  /** The vector-search query set: the first ten embeddings. */
  private def annQueries(vecs: DataFrame): DataFrame =
    vecs.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))

  /** Whitespace-split words of each document as toks(doc_id, ws). */
  private val wordsSql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
      |  FROM documents
      |)""".stripMargin

  /** FNV-1a hash of every word in ws as hs, keyed by `id`: code units
    * folded in HUGEINT, wrapped to unsigned 64 bits. */
  private def wordHashSql(id: String, from: String): String =
    s"""  SELECT $id, list_transform(ws, w ->
       |    list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT),
       |      list_transform(generate_series(1, length(w)),
       |        i -> CAST(unicode(substr(w, i, 1)) AS HUGEINT))),
       |      (h, c) -> ((h - (h % 65536) +
       |          CAST(xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
       |        * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))
       |  ) AS hs FROM $from""".stripMargin

  /** [[wordsSql]] plus the per-document word hashes wh(doc_id, hs). */
  private val wordHashesSql =
    s"""$wordsSql, wh AS (
       |${wordHashSql("doc_id", "toks")}
       |)""".stripMargin

  /** Dedup's shingle combine of the 64-bit hashes in list `items`: the
    * FNV fold with xor on the signed view, 64-bit wraparound replayed in
    * HUGEINT. */
  private def combineSql(items: String): String =
    s"""list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT),
       |      $items),
       |      (acc, h) -> (((CAST(xor(
       |          CAST(CASE WHEN acc >= CAST('9223372036854775808' AS HUGEINT)
       |            THEN acc - CAST('18446744073709551616' AS HUGEINT) ELSE acc END AS BIGINT),
       |          CAST(CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
       |            THEN h - CAST('18446744073709551616' AS HUGEINT) ELSE h END AS BIGINT)) AS HUGEINT)
       |        + CAST('18446744073709551616' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT))
       |        * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin

  /** Word `n`-gram shingle hashes shs of each hs list, `window` naming the
    * n hashes at position i; a document shorter than n is one shingle,
    * `distinct` dedups shingles within a document. */
  private def shinglesSql(n: Int, window: String, distinct: Boolean,
                          id: String = "doc_id", from: String = "wh"): String = {
    val (open, close) = if (distinct) ("list_distinct(", ")") else ("", "")
    s"""  SELECT $id, CASE WHEN len(hs) = 0 THEN CAST([] AS HUGEINT[])
       |    WHEN len(hs) < $n THEN [${combineSql("hs")}]
       |    ELSE ${open}list_transform(generate_series(1, len(hs) - ${n - 1}), i ->
       |    ${combineSql(window)})$close END AS shs
       |  FROM $from""".stripMargin
  }

  /** The whole-text FNV-1a fingerprint of column t as unsigned fp_u
    * (DedupHash.fingerprint's fold for BMP text); `i` names the lambda's
    * index variable. */
  private def textFoldSql(i: String): String =
    s"""list_reduce(
       |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
       |      list_transform(generate_series(1, length(t)),
       |        $i -> CAST(unicode(substr(t, $i, 1)) AS HUGEINT))),
       |    (h, c) -> ((h - (h % 65536) +
       |        CAST(xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
       |      * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)
       |  ) AS fp_u""".stripMargin

  /** Four deterministic messy-URL shapes keyed by doc_id % 4, covering
    * every normalization rule; variant 3 collides on doc_id % 97 to give
    * the URL dedup real dup groups.  Replayed verbatim in the oracles. */
  private def plantedUrl(d: Column): Column =
    when(pmod(d, lit(4)) === 0,
      concat(lit("HTTPS://WWW.Example.COM:443/a//b/?utm_source=x&id="), d,
        lit("#sec")))
      .when(pmod(d, lit(4)) === 1,
        concat(lit("http://user@News.example.CO.UK:80/path/"), d, lit("/")))
      .when(pmod(d, lit(4)) === 2,
        concat(lit("example.org/q?ref=tw&x="), d))
      .otherwise(
        concat(lit("https://Mirror.example.com/dup/"), pmod(d, lit(97))))

  /** Shared CTE chain for the URL-op oracles: the q_url_* plant plus a
    * step-for-step SQL replay of UrlOps.normalizeUrl / urlHost /
    * registeredDomain (same regexes, same order — the Java/RE2-common
    * subset, so both engines execute them identically). */
  private val urlCtes =
    """WITH planted AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/a//b/?utm_source=x&id='
      |        || doc_id || '#sec'
      |      WHEN 1 THEN 'http://user@News.example.CO.UK:80/path/'
      |        || doc_id || '/'
      |      WHEN 2 THEN 'example.org/q?ref=tw&x=' || doc_id
      |      ELSE 'https://Mirror.example.com/dup/' || (doc_id % 97)
      |    END AS url
      |  FROM documents
      |), s1 AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(url, '#.*$', ''), '\s+', '', 'g')
      |      AS nofrag
      |  FROM planted
      |), s2 AS (
      |  SELECT doc_id,
      |    regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)
      |      AS scheme_raw,
      |    regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      |  FROM s1
      |), s3 AS (
      |  SELECT doc_id,
      |    CASE WHEN scheme_raw = '' THEN 'http'
      |      ELSE lower(scheme_raw) END AS scheme,
      |    regexp_replace(lower(regexp_extract(rest, '^([^/?]+)', 1)),
      |      '^.*@', '') AS nouser,
      |    regexp_replace(rest, '^[^/?]+', '') AS pathq
      |  FROM s2
      |), s4 AS (
      |  SELECT doc_id, scheme,
      |    regexp_replace(
      |      CASE WHEN scheme = 'http' THEN regexp_replace(nouser, '(:80)+$', '')
      |           WHEN scheme = 'https' THEN regexp_replace(nouser, '(:443)+$', '')
      |           ELSE nouser END, '^(www[.])+', '') AS nhost,
      |    regexp_replace(regexp_replace(nouser, '(:[0-9]+)+$', ''),
      |      '^(www[.])+', '') AS uhost,
      |    regexp_replace(regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
      |      '/{2,}', '/', 'g'), '/+$', '') AS path,
      |    regexp_replace(regexp_replace(regexp_extract(pathq, '[?].*'),
      |      '[?&](utm_[A-Za-z0-9]+|fbclid|gclid|msclkid|ref)=[^&]*', '', 'g'),
      |      '^&', '?') AS query
      |  FROM s3
      |), normed AS (
      |  SELECT doc_id,
      |    scheme || '://' || nhost || path || query AS url_norm,
      |    uhost AS host,
      |    CASE WHEN regexp_matches(uhost, '^[0-9.]+$') OR uhost LIKE '[%'
      |        THEN uhost
      |      WHEN rd = '' THEN uhost ELSE rd END AS domain
      |  FROM (
      |    SELECT *, regexp_extract(uhost,
      |      '([^.]+[.](?:co[.]uk|org[.]uk|ac[.]uk|gov[.]uk|co[.]jp|com[.]au|com[.]br|co[.]in|co[.]nz|com[.]mx)|[^.]+[.][^.]+)$',
      |      1) AS rd
      |    FROM s4)
      |)""".stripMargin

  val all: Seq[Query] = Seq(
    // --- interleaved-span documents ------------------------------------
    Query("q_span_extract", (s, dir) => {
      // build interleaved text+media spans per lineitem row, then run the
      // engine's geo-tag extraction; output the parsed microdegrees.
      val pts = geoLineitem(s, dir)
      val latU = round(col("lat") * 1e6).cast("long")
      val lonU = round(col("lon") * 1e6).cast("long")
      val docs = pts.select(col("l_orderkey"), col("l_linenumber"),
        array(
          struct(lit("text").as("kind"),
            concat(lit("row "), col("l_orderkey")).as("text"),
            lit(null).cast("string").as("media_ref"), lit(0).as("offset")),
          struct(lit("media").as("kind"), lit(null).cast("string").as("text"),
            concat(lit("img://"), col("pt_id"), lit("?geo="), latU, lit(","),
              lonU).as("media_ref"), lit(16).as("offset"))
        ).as("spans"))
      GeoEngine.withGeoTag(docs)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("lat").cast("long").as("g_lat_u"),
          col("lon").cast("long").as("g_lon_u"))
    }, Sql(
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(round($latSql * 1e6) AS BIGINT) AS g_lat_u,
         |  CAST(round($lonSql * 1e6) AS BIGINT) AS g_lon_u
         |FROM lineitem""".stripMargin)),
    // --- dedup -----------------------------------------------------------
    Query("q_dedup_exact", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.exact(docs).select(col("keep_id"), col("n_dups"))
    }, Sql(
      "SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY text")),
    Query("q_incremental_dedup", (s, dir) => {
      // snapshot dedup: prior corpus = the doc_id%3==0 third, new batch =
      // the whole table.  The Bloom prefilters are invisible to the
      // semantics, so the oracle is a plain text anti-join.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val old = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      Dedup.incrementalDedup(docs, old)
        .select(col("doc_id"), col("n_chars"))
    }, Sql(
      // incremental dedup replay: the exact anti-join semantics the Bloom
      // prefilters must be invisible to (NOT EXISTS, so null text survives)
      """SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents o
        |                  WHERE o.doc_id % 3 = 0 AND o.text = d.text)""".stripMargin)),
    Query("q_dedup_pairs", (s, dir) => {
      // exact-dup pair count via fingerprint equality — must equal
      // sum(C(n,2)) over identical-text groups (collision-free check).
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val planted = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + lit(1000000)))
      Dedup.exactPairs(planted, idCol = "doc_id")
        .agg(count(lit(1)).as("n_pairs"))
    }, Sql(
      """SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) AS n_pairs
        |FROM (SELECT count(*) * 2 AS n FROM documents GROUP BY text)""".stripMargin)),
    Query("q_dedup_minhash", (s, dir) => {
      // plant near-dups (drop the last word) and count verified pairs per
      // left doc (rows-only driver check; exact recall asserted in
      // DataOpsSpec against planted ground truth).
      Dedup.minhashLsh(plantedNearDups(s, dir), jaccardThreshold = 0.6)
        .groupBy("left_id").agg(count(lit(1)).as("n_matches"))
    }, NoOracle(
      "MinHash LSH banding is probabilistic; DataOpsSpec pins recall on planted near-dups")),
    Query("q_dedup_simhash", (s, dir) => {
      Dedup.simhashPairs(plantedNearDups(s, dir), maxHamming = 3)
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("hamming")).as("sum_hamming"))
    }, NoOracle("SimHash LSH banding is probabilistic; DataOpsSpec pins planted near-dup recall")),
    Query("q_dedup_jaccard", (s, dir) => {
      // exact n-gram Jaccard pairs via the shingle inverted index; the
      // oracle recomputes the identical FNV-1a word-shingle hashes and
      // set Jaccard in SQL (hash-verified, unlike the LSH families whose
      // banding is probabilistic by design)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      Dedup.ngramJaccardPairs(docs, jaccardThreshold = 0.5, maxDf = 1000000)
        .select(col("left_id"), col("right_id"),
          floor(col("jaccard") * 1e7 + 0.5).cast("long").as("j_e7"))
    }, Sql(
      // exact mirror of Dedup.ngramJaccardPairs: FNV-1a(token bytes) per
      // word, shingle = ((OFS^h1)*P ^ h2)*P ... (combine chain), distinct
      // shingle sets, posting-list pair counts, set Jaccard.  HUGEINT
      // arithmetic replays 64-bit wraparound; xor works on the signed view.
      s"""$wordHashesSql, sh AS (
        |${shinglesSql(3, "[hs[i], hs[i+1], hs[i+2]]", distinct = true)}
        |), ex AS (
        |  SELECT doc_id, unnest(shs) AS s FROM sh
        |), sz AS (
        |  SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1
        |), pr AS (
        |  SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
        |)
        |SELECT pr.left_id, pr.right_id,
        |  CAST(floor(CAST(shared AS DOUBLE) / (la.sz + lb.sz - shared) * 1e7 + 0.5) AS BIGINT) AS j_e7
        |FROM pr
        |JOIN sz la ON la.doc_id = pr.left_id
        |JOIN sz lb ON lb.doc_id = pr.right_id
        |WHERE CAST(shared AS DOUBLE) / (la.sz + lb.sz - shared) >= 0.5""".stripMargin)),
    Query("q_dsir_score", (s, dir) => {
      // DSIR importance scores (hashed-bigram bucket log-ratio weights,
      // target = every 50th doc): integer micro-unit weights make the
      // per-doc score an exact integer sum, so the oracle recomputes the
      // whole estimator — FNV bigram buckets, add-one smoothing, the
      // ln ratio rounded to 1e-6 — and must hash-match.  ln parity risk
      // (JVM intrinsic vs libm, both <= 1 ulp ~1e-16 relative): a weight
      // flips only when 1e6*(ln p - ln q) + 0.5 lands within that window
      // of an integer, ~1e-9 per bucket per run — the same accepted class
      // as the existing ln/tan-based webmerc oracles, though table-
      // amplified here (one flipped bucket shifts every doc containing it)
      import graft.data.Corpus
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val target = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      val w = Corpus.dsirWeights(docs, target, n = 2, buckets = 512)
      docs.select(col("doc_id"),
        Corpus.dsirScore(w, 2, 512)(col("text")).as("score_e6"))
    }, Sql(
      // DSIR: replay the whole estimator — FNV bigram hashes, power-of-two
      // unsigned bucket mod (== Java floorMod for 2^k), add-one-smoothed
      // frequency ratio, ln rounded half-up to integer micro-units, exact
      // integer per-doc sums; empty docs score 0 via the left join
      s"""$wordHashesSql, sh AS (
        |${shinglesSql(2, "hs[i:i+1]", distinct = false)}
        |), ex AS (
        |  SELECT doc_id, unnest(shs) AS h FROM sh
        |), bk AS (
        |  SELECT doc_id, CAST(h % 512 AS INTEGER) AS b FROM ex
        |), qc AS (
        |  SELECT b, count(*) AS c FROM bk GROUP BY 1
        |), pc AS (
        |  SELECT b, count(*) AS c FROM bk WHERE doc_id % 50 = 0 GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT count(*) FROM bk WHERE doc_id % 50 = 0) + 512.0 AS pt,
        |         (SELECT count(*) FROM bk) + 512.0 AS qt
        |), wt AS (
        |  SELECT g.b, CAST(floor(1000000.0 * (ln((COALESCE(pc.c, 0) + 1) / tot.pt)
        |      - ln((COALESCE(qc.c, 0) + 1) / tot.qt)) + 0.5) AS BIGINT) AS w
        |  FROM (SELECT unnest(generate_series(0, 511)) AS b) g
        |  LEFT JOIN pc ON pc.b = g.b LEFT JOIN qc ON qc.b = g.b, tot
        |), sc AS (
        |  SELECT bk.doc_id, SUM(wt.w) AS s FROM bk JOIN wt ON wt.b = bk.b GROUP BY 1
        |)
        |SELECT d.doc_id, CAST(COALESCE(sc.s, 0) AS BIGINT) AS score_e6
        |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin)),
    Query("q_lm_logprob", (s, dir) => {
      // hashed-bigram LM quality scoring (CCNet's KenLM filter with
      // hashed count tables): reference = every 10th doc; integer
      // micro-unit log tables make the per-doc log-prob sum exact, so
      // the oracle recomputes the whole model — unigram/bigram bucket
      // counts over the reference, the two smoothed ln tables, the
      // position-aligned bigram-minus-unigram sum (same ln-parity risk
      // class as q_dsir_score, see there)
      import graft.data.Corpus
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val ref = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val m = Corpus.lmTrain(ref, buckets = 1024)
      val sc = Corpus.lmScore(m)(col("text"))
      docs.select(col("doc_id"),
        sc.getField("lp_e6").as("lp_e6"),
        sc.getField("n_bi").cast("long").as("n_bi"))
    }, Sql(
      // hashed-bigram LM: replay the model end to end — unigram windows are
      // one-element FNV folds, bigrams the two-element folds, counts over
      // the reference subset, smoothed ln tables (c+1 bigram, c+B unigram),
      // position-aligned per-doc sums
      s"""$wordHashesSql, us AS (
        |  SELECT doc_id, list_transform(hs, h0 ->
        |    ${combineSql("[h0]")}) AS us
        |  FROM wh
        |), sh AS (
        |${shinglesSql(2, "hs[i:i+1]", distinct = false)}
        |), cu AS (
        |  SELECT CAST(u % 1024 AS INTEGER) AS b, count(*) AS c
        |  FROM (SELECT doc_id, unnest(us) AS u FROM us)
        |  WHERE doc_id % 10 = 0 GROUP BY 1
        |), cb AS (
        |  SELECT CAST(g % 1024 AS INTEGER) AS b, count(*) AS c
        |  FROM (SELECT doc_id, unnest(shs) AS g FROM sh)
        |  WHERE doc_id % 10 = 0 GROUP BY 1
        |), wu AS (
        |  SELECT g.b, CAST(floor(1000000.0 * ln(COALESCE(cu.c, 0) + 1024.0) + 0.5) AS BIGINT) AS w
        |  FROM (SELECT unnest(generate_series(0, 1023)) AS b) g
        |  LEFT JOIN cu ON cu.b = g.b
        |), wb AS (
        |  SELECT g.b, CAST(floor(1000000.0 * ln(COALESCE(cb.c, 0) + 1.0) + 0.5) AS BIGINT) AS w
        |  FROM (SELECT unnest(generate_series(0, 1023)) AS b) g
        |  LEFT JOIN cb ON cb.b = g.b
        |), pos AS (
        |  SELECT s.doc_id, unnest(generate_series(1, len(s.shs))) AS i, s.shs, u.us
        |  FROM sh s JOIN us u ON u.doc_id = s.doc_id
        |), pair AS (
        |  SELECT doc_id, CAST(shs[i] % 1024 AS INTEGER) AS gb,
        |    CAST(us[i] % 1024 AS INTEGER) AS ub FROM pos
        |), sc AS (
        |  SELECT pair.doc_id, SUM(wb.w - wu.w) AS lp, count(*) AS nb
        |  FROM pair JOIN wb ON wb.b = pair.gb JOIN wu ON wu.b = pair.ub
        |  GROUP BY 1
        |)
        |SELECT d.doc_id, CAST(COALESCE(sc.lp, 0) AS BIGINT) AS lp_e6,
        |  CAST(COALESCE(sc.nb, 0) AS BIGINT) AS n_bi
        |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin)),
    Query("q_dedup_spans", (s, dir) => {
      // exact substring-duplicate spans (Lee et al. ExactSubstr dedup as
      // distributed window hashing): every 8-token run occurring >= 2
      // times corpus-wide, merged into per-doc token spans with the
      // globally-first occurrence exempted; the oracle replays the FNV
      // window hashes, the (occ, first-occurrence) marking and the
      // gaps-and-islands span merge in SQL (hash-verified)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      Dedup.duplicateSpans(docs, window = 8)
    }, Sql(
      // exact substring-duplicate spans: replay the ORDERED (not distinct)
      // 8-token FNV window hashes with positions, mark occurrences >= 2
      // minus the globally-first (doc_id, pos), and merge overlapping /
      // contiguous windows per doc via gaps-and-islands
      s"""$wordHashesSql, sh AS (
        |${shinglesSql(8, "hs[i:i+7]", distinct = false)}
        |), ex AS (
        |  SELECT doc_id, unnest(generate_series(1, len(shs))) AS i, shs FROM sh
        |), win AS (
        |  SELECT doc_id, i - 1 AS pos, shs[i] AS h FROM ex
        |), marked AS (
        |  SELECT doc_id, pos,
        |    count(*) OVER (PARTITION BY h) AS occ,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rnk
        |  FROM win
        |), dup AS (
        |  SELECT doc_id, pos FROM marked WHERE occ >= 2 AND rnk > 1
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |      OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |      THEN 1 ELSE 0 END AS brk
        |  FROM dup
        |), grp AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl
        |)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
        |FROM grp GROUP BY doc_id, g""".stripMargin)),
    Query("q_decontaminate", (s, dir) => {
      // benchmark decontamination: eval set = the first 8 words of every
      // 50th document; flag corpus docs sharing word-3-gram shingles.
      // The oracle replays the identical FNV shingle chain in DuckDB.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val evalSet = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("eval_id"),
          array_join(slice(filter(split(col("text"), " "),
            w => w =!= lit("")), 1, 8), " ").as("text"))
      Dedup.decontaminate(docs, evalSet)
        .select(col("doc_id"), col("eval_id"), col("n_shared"),
          floor(col("overlap") * 1e7 + 0.5).cast("long").as("ov_e7"))
    }, Sql(
      // decontamination mirror: identical FNV word-shingle chain as
      // q_dedup_jaccard on both sides; the eval side re-splits the first 8
      // words (single-space join == ws[1:8] since split drops no words).
      s"""$wordsSql, etoks AS (
        |  SELECT doc_id AS eval_id, ws[1:8] AS ws
        |  FROM toks WHERE doc_id % 50 = 0
        |), wh AS (
        |${wordHashSql("doc_id", "toks")}
        |), ewh AS (
        |${wordHashSql("eval_id", "etoks")}
        |), sh AS (
        |${shinglesSql(3, "[hs[i], hs[i+1], hs[i+2]]", distinct = true)}
        |), esh AS (
        |${shinglesSql(3, "[hs[i], hs[i+1], hs[i+2]]", distinct = true, "eval_id", "ewh")}
        |), ex AS (
        |  SELECT doc_id, unnest(shs) AS s FROM sh
        |), eex AS (
        |  SELECT eval_id, len(shs) AS esz, unnest(shs) AS s FROM esh
        |)
        |SELECT ex.doc_id, eex.eval_id,
        |  CAST(count(*) AS BIGINT) AS n_shared,
        |  CAST(floor(CAST(count(*) AS DOUBLE) / any_value(eex.esz) * 1e7 + 0.5) AS BIGINT) AS ov_e7
        |FROM ex JOIN eex ON ex.s = eex.s
        |GROUP BY 1, 2""".stripMargin)),
    Query("q_redact", (s, dir) => {
      // plant synthetic PII into each document and scrub it; the oracle
      // replays the identical planting + regex chain
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val planted = concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@mail"),
        pmod(col("doc_id"), lit(7)), lit(".example.org or 555-"),
        pmod(col("doc_id") * 31, lit(900)) + 100, lit("-2368 see https://ex.org/d/"),
        col("doc_id"))
      docs.select(col("doc_id"),
        TextOps.redactPii(planted).as("clean"))
    }, Sql(
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || ' contact u' || doc_id || '@mail' || (doc_id % 7) ||
        |    '.example.org or 555-' || ((doc_id * 31) % 900 + 100) ||
        |    '-2368 see https://ex.org/d/' || doc_id AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(t,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
        |        '<EMAIL>', 'g'),
        |      'https?://[A-Za-z0-9./_%+-]+', '<URL>', 'g'),
        |    '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]',
        |    '<PHONE>', 'g') AS clean
        |FROM planted""".stripMargin)),
    Query("q_dedup_cluster", (s, dir) => {
      // connected components over a deterministic dup graph (10-node
      // chains + a 20-leaf star); oracle = transitive closure in a
      // recursive CTE.  Exercises multi-hop label propagation.
      val chain = s.range(0, 100)
        .where(pmod(col("id"), lit(10)) =!= 9)
        .select(col("id").as("left_id"), (col("id") + 1).as("right_id"))
      val star = s.range(201, 221)
        .select(lit(200L).as("left_id"), col("id").as("right_id"))
      Dedup.connectedComponents(chain.unionByName(star))
    }, Sql(
      """WITH RECURSIVE edges AS (
        |  SELECT k AS a, k + 1 AS b FROM range(0, 100) t(k) WHERE k % 10 <> 9
        |  UNION ALL
        |  SELECT 200 AS a, k AS b FROM range(201, 221) t(k)
        |), sym AS (
        |  SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges
        |), reach(src, dst) AS (
        |  SELECT a, a FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
        |)
        |SELECT CAST(src AS BIGINT) AS doc_id,
        |  CAST(min(dst) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY src""".stripMargin)),
    Query("q_dedup_embedding", (s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val jittered = vecs
        .withColumn("vec_id", col("vec_id") + lit(1000000))
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(1.0001f)))
      Dedup.embeddingNearDups(vecs.unionByName(jittered),
          cosineThreshold = 0.9999, bits = 8)
        .agg(count(lit(1)).as("n_pairs"))
    }, NoOracle("SRP LSH bucketing is probabilistic; DataOpsSpec checks it against brute force")),
    Query("q_semantic_dedup", (s, dir) => {
      // SemDeDup keep-first pruning, hash-verified: centroids are the 16
      // smallest vec_ids (replayable in SQL), threshold 0.35 sits >3e-4
      // from every within-cluster cosine and the assignment top-1/top-2
      // gap is >2e-4, so the float boundary cannot flip either side.
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = vecs.where(col("vec_id") < 16).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      Dedup.semanticDedup(vecs, threshold = 0.35, centroids = cents)
        .select(col("vec_id"), col("cluster"),
          col("kept").cast("long").as("kept"))
    }, Sql(
      """WITH c AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 16
        |), a0 AS (
        |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cid,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) AS cs
        |  FROM embeddings e CROSS JOIN c
        |), a AS (
        |  SELECT vec_id, v, cid AS cluster FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
        |    FROM a0
        |  ) WHERE rn = 1
        |), dropped AS (
        |  SELECT DISTINCT b.vec_id FROM a x JOIN a b
        |    ON x.cluster = b.cluster AND x.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(x.v, b.v) >= 0.35
        |)
        |SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
        |  CAST(a.vec_id NOT IN (SELECT vec_id FROM dropped) AS BIGINT) AS kept
        |FROM a""".stripMargin)),
    // --- similarity search ----------------------------------------------
    Query("q_ann_cosine", (s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = annQueries(vecs)
      Ann.bruteForceTopK(queries, vecs, k = 5)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rnk"))
    }, Sql(
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10
        |), pairs AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cosine
        |  FROM q CROSS JOIN embeddings e
        |), ranked AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rnk
        |  FROM pairs
        |)
        |SELECT query_id, vec_id, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 5""".stripMargin)),
    Query("q_ann_ivf", (s, dir) => {
      // IVF recall vs exact top-k (rows-only; recall floor asserted in
      // DataOpsSpec): output per-query hit count of IVF vs brute force.
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = annQueries(vecs)
      val exact = Ann.bruteForceTopK(queries, vecs, k = 5)
        .select(col("query_id"), col("vec_id"))
      val ivf = Ann.ivfTopK(queries, vecs, k = 5, nCentroids = 16, nProbe = 8)
        .select(col("query_id"), col("vec_id"))
      exact.intersect(ivf).groupBy("query_id")
        .agg(count(lit(1)).as("n_hits"))
    }, NoOracle("driver-side k-means centroids; DataOpsSpec asserts the recall floor")),
    Query("q_ann_pq", (s, dir) => {
      // IVF-PQ recall vs exact top-k (rows-only; recall floor + code
      // determinism asserted in DataOpsSpec): per-query hit counts of the
      // ADC-candidates-then-exact-rerank path vs brute force.
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = annQueries(vecs)
      val exact = Ann.bruteForceTopK(queries, vecs, k = 5)
        .select(col("query_id"), col("vec_id"))
      // m=16 x ksub=16 = 8-byte codes on the 64-dim embeddings; rerank=64
      // brings PQ within ~2 hits of the IVF ceiling on this corpus
      // (measured sweep: m=4/32 -> 24, m=8/64 -> 34, m=16/64 -> 35 of the
      // IVF path's 37/50)
      val pq = Ann.ivfPqTopK(queries, vecs, k = 5, nCentroids = 16, nProbe = 8,
          m = 16, ksub = 16, rerank = 64)
        .select(col("query_id"), col("vec_id"))
      exact.intersect(pq).groupBy("query_id")
        .agg(count(lit(1)).as("n_hits"))
    }, NoOracle("driver-side k-means and PQ codebooks; DataOpsSpec asserts the recall floor")),
    // --- text analysis ---------------------------------------------------
    Query("q_token_count", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
        TextOps.tokenCountWs(col("text")).cast("long").as("n_ws"),
        TextOps.tokenCountBpe(col("text")).cast("long").as("n_bpe"))
    }, Sql(
      """SELECT doc_id,
        |  CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin)),
    Query("q_bpe_tokens", (s, dir) => {
      // trained-subword token counts (rows-only: greedy BPE apply is not
      // SQL-expressible; merges + codegen apply are pinned in DataOpsSpec
      // against the Sennrich worked example).  The regex-class count
      // upper-bounds the subword count, asserted here in-query: a
      // violation would zero the row count and fail the driver check.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.data.Bpe.train(docs, numMerges = 200)
      docs.select(col("doc_id"),
          graft.data.dataops.bpeTokenCount(col("text"), model)
            .cast("long").as("n_subword"),
          TextOps.tokenCountBpe(col("text")).cast("long").as("n_pre"))
        .where(col("n_subword") >= col("n_pre"))
    }, NoOracle("greedy BPE apply is not SQL-expressible; DataOpsSpec pins merges and apply")),
    Query("q_quality", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val nChars = length(col("text")).cast("long")
      val nTokens = TextOps.tokenCountWs(col("text")).cast("long")
      val nPunct = size(regexp_extract_all(col("text"),
        lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long")
      val nStop = TextOps.stopwordHits(col("text"), TextOps.stopwordsEn).cast("long")
      docs.select(col("doc_id"), nChars.as("n_chars"), nTokens.as("n_tokens"),
        floor(nPunct * 1000000L / greatest(nChars, lit(1L))).cast("long").as("punct_ppm"),
        floor(nStop * 1000000L / greatest(nTokens, lit(1L))).cast("long").as("stop_ppm"))
    }, Sql {
      val stopPat = "(?i)\\b(" + TextOps.stopwordsEn.mkString("|") + ")\\b"
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         |    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1000000 //
         |    greatest(length(text), 1) AS BIGINT) AS punct_ppm,
         |  CAST(len(regexp_extract_all(text, '$stopPat')) * 1000000 //
         |    greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) AS BIGINT) AS stop_ppm
         |FROM documents""".stripMargin
    }),
    Query("q_lang_id", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"), TextOps.langId(col("text")).as("lang_guess"))
    }, Sql {
      def hits(ws: Seq[String]) =
        s"len(regexp_extract_all(text, '(?i)\\b(${ws.mkString("|")})\\b'))"
      val en = hits(TextOps.stopwordsEn); val de = hits(TextOps.stopwordsDe)
      val fr = hits(TextOps.stopwordsFr); val es = hits(TextOps.stopwordsEs)
      s"""SELECT doc_id, CASE
         |  WHEN greatest($en, $de, $fr, $es) = 0 THEN 'und'
         |  WHEN $en = greatest($en, $de, $fr, $es) THEN 'en'
         |  WHEN $de = greatest($en, $de, $fr, $es) THEN 'de'
         |  WHEN $fr = greatest($en, $de, $fr, $es) THEN 'fr'
         |  ELSE 'es' END AS lang_guess
         |FROM documents""".stripMargin
    }),
    Query("q_text_stats", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        (length(col("text")) -
          length(regexp_replace(col("text"), lit(" "), lit("")))).cast("long")
          .as("n_spaces"))
    }, Sql(
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
        |CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
        |FROM documents""".stripMargin)),
    Query("q_repetition", (s, dir) => {
      // Gopher-style repetition signals per document (word/bigram/trigram
      // totals, distinct counts, top-gram frequency) — single-pass custom
      // expression; the oracle replays it with unnest + window leads +
      // group-by over the same alnum-run tokenization.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val r = TextOps.repetitionStats(col("text"))
      docs.select(
        col("doc_id"),
        r.getField("words").cast("long").as("words"),
        r.getField("distinct_words").cast("long").as("distinct_words"),
        r.getField("top_word").cast("long").as("top_word"),
        r.getField("bigrams").cast("long").as("bigrams"),
        r.getField("distinct_bigrams").cast("long").as("distinct_bigrams"),
        r.getField("top_bigram").cast("long").as("top_bigram"),
        r.getField("trigrams").cast("long").as("trigrams"),
        r.getField("distinct_trigrams").cast("long").as("distinct_trigrams"),
        r.getField("top_trigram").cast("long").as("top_trigram"))
    }, Sql(
      // repetition stats replayed relationally: unnest the same alnum-run
      // tokens with ordinals, build bigrams/trigrams via window leads,
      // aggregate totals / distincts / max group count per document.
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS i
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, w,
        |         lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2,
        |         lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w3
        |  FROM toks
        |), uni AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS words,
        |         CAST(count(*) AS BIGINT) AS distinct_words,
        |         CAST(max(c) AS BIGINT) AS top_word
        |  FROM (SELECT doc_id, w, count(*) AS c FROM grams GROUP BY doc_id, w)
        |  GROUP BY doc_id
        |), bi AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS bigrams,
        |         CAST(count(*) AS BIGINT) AS distinct_bigrams,
        |         CAST(max(c) AS BIGINT) AS top_bigram
        |  FROM (SELECT doc_id, w || ' ' || w2 AS g, count(*) AS c FROM grams
        |        WHERE w2 IS NOT NULL GROUP BY doc_id, g)
        |  GROUP BY doc_id
        |), tri AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS trigrams,
        |         CAST(count(*) AS BIGINT) AS distinct_trigrams,
        |         CAST(max(c) AS BIGINT) AS top_trigram
        |  FROM (SELECT doc_id, w || ' ' || w2 || ' ' || w3 AS g, count(*) AS c
        |        FROM grams WHERE w3 IS NOT NULL GROUP BY doc_id, g)
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(u.words, 0) AS BIGINT) AS words,
        |  CAST(COALESCE(u.distinct_words, 0) AS BIGINT) AS distinct_words,
        |  CAST(COALESCE(u.top_word, 0) AS BIGINT) AS top_word,
        |  CAST(COALESCE(b.bigrams, 0) AS BIGINT) AS bigrams,
        |  CAST(COALESCE(b.distinct_bigrams, 0) AS BIGINT) AS distinct_bigrams,
        |  CAST(COALESCE(b.top_bigram, 0) AS BIGINT) AS top_bigram,
        |  CAST(COALESCE(t.trigrams, 0) AS BIGINT) AS trigrams,
        |  CAST(COALESCE(t.distinct_trigrams, 0) AS BIGINT) AS distinct_trigrams,
        |  CAST(COALESCE(t.top_trigram, 0) AS BIGINT) AS top_trigram
        |FROM documents d
        |LEFT JOIN uni u ON d.doc_id = u.doc_id
        |LEFT JOIN bi b ON d.doc_id = b.doc_id
        |LEFT JOIN tri t ON d.doc_id = t.doc_id""".stripMargin)),
    Query("q_split_assign", (s, dir) => {
      // deterministic content-addressed train/valid/test split: the
      // fingerprint bucketed mod 100 (90/5/5), aggregated per (lang,
      // split).  The oracle replays the FNV fold + bucketing in SQL.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("lang"), TextOps.splitAssign(col("text")).as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
    }, Sql(
      // split assignment: the q_fingerprint FNV fold, bucketed mod 100 with
      // Spark's pmod sign convention, thresholded at 90/95.
      s"""WITH norm AS (
        |  SELECT doc_id, lang, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
        |  FROM documents
        |), folded AS (
        |  SELECT doc_id, lang, ${textFoldSql("i")}
        |  FROM norm
        |), signedfp AS (
        |  SELECT lang,
        |    CASE WHEN fp_u >= CAST('9223372036854775808' AS HUGEINT)
        |      THEN fp_u - CAST('18446744073709551616' AS HUGEINT)
        |      ELSE fp_u END AS fp
        |  FROM folded
        |), buck AS (
        |  SELECT lang, CAST(((fp % 100) + 100) % 100 AS BIGINT) AS b FROM signedfp
        |)
        |SELECT lang,
        |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid'
        |    ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM buck GROUP BY lang, 2""".stripMargin)),
    Query("q_url_normalize", (s, dir) => {
      // URL canonicalization over four planted messy-URL shapes (mixed
      // case, www, userinfo, default ports, tracking params, fragments,
      // duplicate/trailing slashes, scheme-less); the oracle replays the
      // identical plant + normalization chain step for step in SQL.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val u = plantedUrl(col("doc_id"))
      val host = UrlOps.urlHost(u)
      docs.select(col("doc_id"),
        UrlOps.normalizeUrl(u).as("url_norm"),
        host.as("host"),
        UrlOps.registeredDomain(host).as("domain"))
    }, Sql(
      (urlCtes + "\nSELECT doc_id, url_norm, host, domain FROM normed"))),
    Query("q_url_dedup", (s, dir) => {
      // URL-level exact dedup: the variant-3 plant collides on
      // doc_id % 97, so those urls form dup groups; keep the smallest
      // doc id per normalized url.  The engine groups on
      // xxhash64(normalized url); the oracle groups on the normalized
      // string itself (identical verdicts absent 64-bit collisions).
      val docs = s.read.parquet(s"$dir/documents.parquet")
      UrlOps.dedupByUrl(docs.withColumn("url", plantedUrl(col("doc_id"))))
        .select(col("keep_id"), col("n_dups"))
    }, Sql(
      (urlCtes + """
        |SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM normed GROUP BY url_norm""".stripMargin))),
    Query("q_domain_mix", (s, dir) => {
      // documents + distinct hosts per registered domain with per-million
      // corpus share — the domain-mixing weight table.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      UrlOps.domainMix(docs.withColumn("url", plantedUrl(col("doc_id"))))
    }, Sql(
      (urlCtes + """,
        |per AS (
        |  SELECT domain, count(*) AS n_docs, count(DISTINCT host) AS n_hosts
        |  FROM normed GROUP BY domain
        |)
        |SELECT domain, n_docs, n_hosts,
        |  CAST(FLOOR(CAST(n_docs * 1000000 AS DOUBLE) /
        |    CAST((SELECT sum(n_docs) FROM per) AS DOUBLE)) AS BIGINT)
        |    AS share_ppm
        |FROM per""".stripMargin))),
    Query("q_paragraph_dedup", (s, dir) => {
      // paragraph-level exact dedup (C4/CCNet boilerplate pass): build
      // 3-paragraph docs where paragraph 1 is one of three shared
      // boilerplate headers; the dedup must keep each duplicated
      // paragraph only at its first (min (doc_id, idx)) occurrence and
      // reassemble the survivors in original order.  The oracle replays
      // the construction + first-occurrence rule with windows over the
      // exploded paragraphs.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val words = filter(split(col("text"), " "), w => w =!= lit(""))
      val built = docs.select(col("doc_id"),
        concat_ws("\n",
          concat(lit("terms of service v"), pmod(col("doc_id"), lit(3))),
          array_join(slice(words, 1, 8), " "),
          array_join(slice(words, 9, 1 << 20), " ")).as("text"))
      graft.data.Corpus.paragraphDedup(built)
    }, Sql(
      // paragraph dedup: replay the 3-paragraph construction, then the
      // first-occurrence-of-duplicates rule via windows over paragraph
      // text (the engine partitions by xxhash64(paragraph); identical
      // verdicts absent 64-bit collisions).
      """WITH built AS (
        |  SELECT doc_id,
        |    'terms of service v' || (doc_id % 3) || chr(10) ||
        |    array_to_string(parts[1:8], ' ') || chr(10) ||
        |    array_to_string(parts[9:len(parts)], ' ') AS text
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), w -> w <> '') AS parts
        |        FROM documents)
        |), paras AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS para,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS idx
        |  FROM built
        |), marked AS (
        |  SELECT doc_id, idx, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn,
        |    count(*) OVER (PARTITION BY para) AS n
        |  FROM paras
        |)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS clean
        |FROM marked WHERE n = 1 OR rn = 1 OR trim(para) = ''
        |GROUP BY doc_id""".stripMargin)),
    Query("q_stratified_sample", (s, dir) => {
      // deterministic stratified sample: exactly 40 docs per language,
      // chosen by smallest content fingerprint via the partial-aggregable
      // kth-smallest threshold (no stratum is ever sorted); the oracle
      // replays the FNV rank + a row_number window per stratum.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.data.Corpus.stratifiedSample(docs, "lang", n = 40)
        .select(col("lang"), col("doc_id"))
    }, Sql(
      // stratified sample: the q_fingerprint FNV fold over (text || ' ' ||
      // doc_id) as the rank, then smallest-40-per-language via a window
      // (the engine uses a kth-smallest threshold — same kept set for
      // distinct ranks).
      s"""WITH norm AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(lower(text || ' ' || doc_id), '\\s+', ' ', 'g') AS t
        |  FROM documents
        |), folded AS (
        |  SELECT doc_id, lang, ${textFoldSql("i")}
        |  FROM norm
        |), ranked AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      CASE WHEN fp_u >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN fp_u - CAST('18446744073709551616' AS HUGEINT)
        |        ELSE fp_u END, doc_id) AS rn
        |  FROM folded
        |)
        |SELECT lang, doc_id FROM ranked WHERE rn <= 40""".stripMargin)),
    Query("q_geo_sample", (s, dir) => {
      // geo-balanced sampling: at most 5 docs per level-3 cell, chosen by
      // smallest content fingerprint (anti-hotspot-bias for geo-tagged
      // training corpora); the oracle replays the cube-face tiling + the
      // FNV rank + a per-(face,i,j) window.
      val pts = geoLineitem(s, dir)
        .withColumn("txt", concat(lit("pt "), col("pt_id")))
      GeoEngine.geoSample(pts, level = 3, nPerCell = 5,
        idCol = "pt_id", textCol = "txt")
        .select(col("pt_id"))
    }, Sql(
      // geo-balanced sampling: cube-face tiling + FNV content rank + a
      // per-cell window replay the engine's kth-smallest threshold exactly
      // (64-bit fingerprints make rank ties impossible in practice).
      (tileSql(lonSql, latSql, 3, "lineitem",
        ", l_orderkey*8 + l_linenumber AS pt_id") +
        s""", norm AS (
          |  SELECT pt_id, face, i, j,
          |    regexp_replace(lower('pt ' || pt_id || ' ' || pt_id),
          |      '\\s+', ' ', 'g') AS t
          |  FROM tiled
          |), folded AS (
          |  SELECT pt_id, face, i, j, ${textFoldSql("p")}
          |  FROM norm
          |), ranked AS (
          |  SELECT pt_id,
          |    row_number() OVER (PARTITION BY face, i, j ORDER BY
          |      CASE WHEN fp_u >= CAST('9223372036854775808' AS HUGEINT)
          |        THEN fp_u - CAST('18446744073709551616' AS HUGEINT)
          |        ELSE fp_u END, pt_id) AS rn
          |  FROM folded
          |)
          |SELECT pt_id FROM ranked WHERE rn <= 5""".stripMargin))),
    Query("q_pack_sequences", (s, dir) => {
      // token-budget sequence packing: concatenate-and-cut at 256 tokens
      // over a deterministic multiplicative-hash order (distributed
      // prefix sum); the oracle replays the same order + running sum
      // with a single window.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.data.Corpus.packSequences(docs, budget = 256)
    }, Sql(
      // sequence packing: same multiplicative-hash order + running token
      // sum as a single window (the engine computes the identical prefix
      // sum distributed, in two passes).
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tok,
        |    (doc_id * 48271) % 2147483647 AS key
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok,
        |    sum(tok) OVER (ORDER BY key, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, CAST((cum - tok) // 256 AS BIGINT) AS seq_id,
        |  CAST((cum - tok) % 256 AS BIGINT) AS seq_off,
        |  tok AS n_tok
        |FROM c""".stripMargin)),
    Query("q_fingerprint", (s, dir) => {
      // per-document FNV-1a rolling fingerprint, hash-verified against a
      // DuckDB HUGEINT reimplementation of the same normalize+fold.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"), dataops.fingerprint(col("text")).as("fp"))
    }, Sql(
      // FNV-1a over whitespace-normalized lower-case text, folded in
      // HUGEINT and wrapped back to the signed 64-bit domain — mirrors
      // graft.data.DedupHash.fingerprint exactly for BMP text.
      s"""WITH norm AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
        |  FROM documents
        |), folded AS (
        |  SELECT doc_id, ${textFoldSql("i")}
        |  FROM norm
        |)
        |SELECT doc_id,
        |  CAST(CASE WHEN fp_u >= CAST('9223372036854775808' AS HUGEINT)
        |    THEN fp_u - CAST('18446744073709551616' AS HUGEINT)
        |    ELSE fp_u END AS BIGINT) AS fp
        |FROM folded""".stripMargin)),
    // --- multimodal (real lib-free decode: netpbm P5/P6 + WAV PCM) -------
    Query("q_media_neardup", (s, dir) => {
      // perceptual image near-dup: plant a +1-pixel copy of every
      // synthetic image and pair originals with copies by average-hash
      // hamming LSH (rows-only: codec + LSH not SQL-expressible; exact
      // planted-pair recall and precision asserted in DataOpsSpec).
      val media = Multimodal.synthesize(s, 2000, parts = 8)
      import media.sparkSession.implicits._
      val perturbed = media
        .filter((m: Multimodal.MediaRow) => m.meta.kind == "image")
        .map { m =>
          val c = m.content.clone()
          c(c.length - 1) = (c(c.length - 1) + 1).toByte
          Multimodal.MediaRow("p" + m.media_id, c, m.meta)
        }
      val feats = Multimodal.extractFeatures(media.union(perturbed)).toDF()
      Multimodal.nearDupPairs(feats)
        .agg(count(lit(1)).as("n_pairs"), sum(col("hamming")).as("sum_hamming"))
    }, NoOracle("codec decode and hash LSH are not SQL-expressible; DataOpsSpec pins the pairs")),
    Query("q_media_features", (s, dir) => {
      val media = Multimodal.synthesize(s, 2000, parts = 8)
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sampleRate").cast("long").as("sample_rate"),
          col("durationMs").as("duration_ms"), col("nBytes").as("n_bytes"),
          col("ahash"))
    }, NoOracle("codec decode is not SQL-expressible; DataOpsSpec pins decode and ahash")),
    Query("q_media_jdk", (s, dir) => {
      // JDK platform-codec path (javax.imageio): every deterministic test
      // card rides twice — lossless PNG and lossy JPEG — through executor-
      // side encode + decode; the lossy twin must stay within 8 ahash bits
      // of the lossless one (rows-only: codec output is not SQL-
      // expressible; bit-level parity asserted in JdkCodecSpec).
      val feats = Multimodal.extractFeatures(
        Multimodal.synthesizeJdk(s, 300, parts = 8)).toDF()
      val png = feats.where(col("kind") === "png")
        .select(expr("substring(media_id, 4)").as("card"),
          col("ahash").as("png_ahash"),
          col("width").cast("long").as("w"), col("height").cast("long").as("h"))
      val jpg = feats.where(col("kind") === "jpeg")
        .select(expr("substring(media_id, 4)").as("card"),
          col("ahash").as("jpg_ahash"))
      png.join(jpg, "card")
        .agg(count(lit(1)).as("n_cards"),
          sum(when(bit_count(col("png_ahash").bitwiseXOR(col("jpg_ahash")))
            <= lit(8), 1L).otherwise(0L)).as("n_perceptual_match"),
          sum(col("w") * col("h")).as("sum_pixels"))
    }, NoOracle("JDK codec output is not SQL-expressible; JdkCodecSpec asserts bit-level parity")),
    Query("q_media_probe", (s, dir) => {
      // the codec-less container probes (WebP/MP4/AVIF/FLAC) through the
      // executor decode path: synthesize one deterministic container per
      // (id, format) on the executors, extract features, aggregate per
      // kind.  Rows-only (binary synthesis is not SQL-expressible); the
      // byte layouts are pinned against the specs in JdkCodecSpec.
      import s.implicits._
      val feats = Multimodal.extractFeatures(
        s.range(0, 400, 1, 8).map { id =>
          val kind = (id % 4).toInt
          val w = 16 + (id % 64).toInt
          val h = 16 + (id % 48).toInt
          val bytes = kind match {
            case 0 => MediaProbes.synthWebpVp8x(w, h)
            case 1 => MediaProbes.synthMp4(w, h, 1000 + id % 9000)
            case 2 => MediaProbes.synthAvif(w, h)
            case _ => MediaProbes.synthFlac(8000 + (id % 5).toInt * 8000,
              1 + (id % 2).toInt, 4000 + id % 80000)
          }
          Multimodal.MediaRow(f"probe$id%05d", bytes,
            Multimodal.MediaMeta(if (kind == 3) "audio" else "image", w, h, 0))
        }).toDF()
      feats.groupBy("kind").agg(
        count(lit(1)).as("n"),
        sum(when(col("width") > 0 || col("sampleRate") > 0, 1L)
          .otherwise(0L)).as("n_typed"),
        sum(col("nBytes")).as("sum_bytes"))
    }, NoOracle("container synthesis is not SQL-expressible; JdkCodecSpec pins the byte layouts")),
    Query("q_corpus_pipeline", (s, dir) => {
      // the full corpus build (url dedup -> exact dedup -> minhash+CC
      // near-dedup -> quality gate -> decontaminate -> split -> pack)
      // over documents with planted urls; emits one row per stage with
      // the surviving doc count plus the packed train-sequence count.
      // Rows-only: LSH banding is not SQL-expressible; exact per-stage
      // victims are pinned on a planted corpus in CorpusPipelineSpec.
      // The repetition gates are disabled because the synthetic corpus
      // text draws from a ~25-word vocabulary (every real doc would trip
      // a dup-word cap tuned for natural text).
      import graft.data.CorpusPipeline
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("url", plantedUrl(col("doc_id")))
      val eval = docs.where(pmod(col("doc_id"), lit(251)) === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
      // checkpointStages: measure() runs one count per stage, and each
      // count would otherwise re-execute the whole upstream dedup chain
      val r = CorpusPipeline.build(docs, CorpusPipeline.Config(
        evalSet = Some(eval),
        maxDupWordFrac = 1.0, maxTopBigramFrac = 1.0,
        checkpointStages = true))
      val sp = s; import sp.implicits._
      (CorpusPipeline.measure(r) :+ ("packed" -> r.packed.count()))
        .toDF("stage", "n_docs")
    }, NoOracle("its near-dup stage is MinHash LSH; CorpusPipelineSpec pins per-stage victims"))
  )
}
