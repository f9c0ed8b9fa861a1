package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-web ingest operators — the two standard stages a CCNet/
  * RefinedWeb-style pipeline runs BEFORE everything the engine already
  * has (lang-ID q31, quality q137, normalization-dedup q142 all assume
  * clean text):
  *
  *  - q275: HTML boilerplate extraction — tag-strip plus the classic
  *    link-density/text-length block heuristic (jusText/Readability
  *    family, reduced to integer arithmetic so the DuckDB oracle can
  *    replicate the scoring bit-for-bit). No external parser: block
  *    segmentation, tag stripping, entity decode, and link-text
  *    accounting are all codegen'd regexp/replace expressions.
  *  - q276: encoding-repair (ftfy-tier) — undo the two dominant
  *    double-encoding corruptions of web text (UTF-8 bytes re-decoded
  *    as CP1252: accented Latin-1 'Ã©'-class and the 'â€¦'-class
  *    punctuation) as a deterministic replace chain, then prove the
  *    repaired text merges with its clean twin under the q142
  *    normalization fingerprint.
  *
  * Round 16 adds the URL stage that runs BESIDE the text stages in the
  * same pipelines (C4/CCNet/RefinedWeb all dedup and cap by URL before
  * ever looking at text):
  *
  *  - q277: URL canonicalization + exact URL dedup — lowercase
  *    scheme/host, strip the `www.` prefix, default ports, fragments
  *    and trailing slashes, drop tracking parameters (`utm_*`,
  *    `fbclid`, `gclid`), sort the surviving query parameters — then
  *    keep-first per canonical URL. The harness corpus has no URL
  *    column, so raw URLs are synthesized DETERMINISTICALLY from
  *    doc_id (the q275 page discipline): four raw spellings per page
  *    that must merge, plus a breakaway-path variant that must NOT.
  *  - q278: registrable-domain extraction (public-suffix-style: known
  *    two-level suffixes take three labels, everything else two) and
  *    per-domain document caps — the crawl-frontier fairness rule.
  *    Selection inside a domain is by deterministic hash order via the
  *    bounded-heap [[graft.functions.TopKAggregator]], so the shuffle
  *    carries O(domains × K) rows no matter how large the biggest
  *    domain is — the window row_number form (which the oracle uses)
  *    would sort every domain's full row set.
  *
  * The reference (a file converter, `/root/reference/pq2json/src/
  * converter.rs`) has none of these; q275/q276 are Spark-first: one
  * corpus scan, every operation map-side (string expressions inside
  * whole-stage codegen), the only exchange the output sort. At 100 TB
  * each is an embarrassingly parallel projection — no join, no agg, no
  * skew surface. q277/q278 add exactly one hash-partitioned aggregation
  * each (by canonical URL / by domain), both with map-side partial
  * aggregation and group counts far below the corpus row count.
  */
object IngestQueries extends QueryModule {

  // ---------------------------------------------------------------- q275

  /** Escape of the document text embedded into the synthesized page —
    * and the inverse applied after tag-stripping, so extraction
    * round-trips the original text exactly (the spec pins this).
    * Shared SQL text, valid in BOTH engines. */
  private[graft] val HtmlEscSql: String =
    "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"

  /** The synthesized raw_html page per document (the harness corpus
    * has no raw-HTML column, so the page is constructed
    * DETERMINISTICALLY from (doc_id, text) — same construction SQL
    * interpolated into engine and oracle, the [[LlmQueries]] planted-
    * corpus discipline). Geometry: a nav block (pure links — must be
    * dropped), the main article (the escaped document text — kept
    * whenever the text clears the length floor), an ad block on
    * doc_id ≡ 3 (mod 7) (pure links — dropped), and a link-heavy
    * footer (dropped by density). Top-level &lt;section&gt; elements
    * ARE the block segmentation — the honest simplification of
    * DOM-block splitting that keeps the operator parser-free. */
  private[graft] val RawHtmlSql: String =
    "'<html><head><title>Doc</title></head><body>" +
      "<section class=\"nav\"><a href=\"/\">Home</a> " +
      "<a href=\"/about\">About us</a> " +
      "<a href=\"/contact\">Contact</a></section>" +
      "<section class=\"main\"><h1>Story</h1> <p>' || " + HtmlEscSql +
      " || '</p> <a href=\"/share\">Share</a></section>' || " +
      "CASE WHEN doc_id % 7 = 3 THEN " +
      "'<section class=\"ad\"><a href=\"/buy\">Buy now</a> " +
      "<a href=\"/deal\">Hot deal</a></section>' ELSE '' END || " +
      "'<section class=\"footer\">(c) 2026 Example Site " +
      "<a href=\"/privacy\">Privacy policy</a> " +
      "<a href=\"/terms\">Terms of use</a> " +
      "<a href=\"/imprint\">Imprint</a></section>" +
      "</body></html>'"

  /** Block = top-level section element; lazy body with (?s) so
    * embedded newlines in document text cannot break segmentation.
    * An unclosed section never matches — a malformed page degrades to
    * fewer blocks, never a crash (hostile-input contract, spec-pinned). */
  private[graft] val SectionPat = "(?s)<section[^>]*>(.*?)</section>"
  private[graft] val AnchorPat = "(?s)<a [^>]*>(.*?)</a>"

  /** jusText-family thresholds on the INTEGER grid: a block is content
    * iff its decoded text is ≥ 30 chars AND its half-up link-density
    * percent is ≤ 33. Interpolated verbatim into the oracle. */
  private[graft] val MinBlockChars = 30L
  private[graft] val MaxLinkDensityPct = 33L

  /** Decoded, whitespace-collapsed text of a block column (Spark SQL
    * text): strip tags → decode the three escaped entities (&lt;/&gt;
    * before &amp;, so escaped '&lt;' in the source text round-trips) →
    * collapse runs of whitespace. */
  private def contentSqlOf(c: String): String =
    s"trim(regexp_replace(replace(replace(replace(" +
      s"regexp_replace($c, '(?s)<[^>]*>', ' '), " +
      "'&lt;', '<'), '&gt;', '>'), '&amp;', '&'), " +
      s"'${LlmQueries.WsClass}+', ' '))"

  /** q275's engine over an explicit (doc_id, html) frame — factored so
    * the spec can drive planted geometries (nav-only page, article
    * page, unclosed tags, entity round-trips) without the synthesized
    * corpus. One row per (doc, block): integer text/link lengths, the
    * half-up link-density percent, the keep verdict, and the extracted
    * content for kept blocks. Everything map-side. */
  private[graft] def htmlBlockStats(pages: DataFrame): DataFrame =
    pages
      .select(col("doc_id"), posexplode(expr(
        s"regexp_extract_all(html, '$SectionPat', 1)")).as(Seq("i", "bk")))
      .withColumn("content", expr(contentSqlOf("bk")))
      .withColumn("text_len", length(col("content")).cast("long"))
      .withColumn("link_len", expr(
        s"aggregate(regexp_extract_all(bk, '$AnchorPat', 1), 0L, " +
          "(a, x) -> a + length(x))"))
      // half-up integer percent; an all-markup block (text_len 0) is
      // boilerplate by definition → density 100
      .withColumn("ld_pct", expr(
        "IF(text_len = 0, 100L, " +
          "(2 * link_len * 100 + text_len) DIV (2 * text_len))"))
      .withColumn("keep",
        col("text_len") >= MinBlockChars && col("ld_pct") <= MaxLinkDensityPct)
      .select(col("doc_id"), (col("i") + 1).cast("long").as("blk"),
        col("text_len"), col("link_len"), col("ld_pct"), col("keep"),
        when(col("keep"), col("content")).otherwise(lit("")).as("main_text"))

  // ---------------------------------------------------------------- q276

  /** The seven dominant mojibake sequences (UTF-8 bytes of é ï ü “ ’ –
    * … re-decoded as CP1252) and their repairs. ORDER MATTERS and is
    * part of the contract: 'â€“' runs before 'â€œ' because the latter's
    * output (U+201C) is the former's third character — the reverse
    * order could cascade a fresh match on adversarial input. The same
    * chain, same order, is interpolated into the oracle. */
  private[graft] def mojiRepairSqlOf(c: String): String =
    s"replace(replace(replace(replace(replace(replace(replace($c, " +
      "'â€“', '–'), " + // â€“ → – (en dash)
      "'â€™', '’'), " + // â€™ → ’
      "'â€¦', '…'), " + // â€¦ → …
      "'â€œ', '“'), " + // â€œ → “
      "'Ã©', 'é'), " + //        Ã© → é
      "'Ã¯', 'ï'), " + //        Ã¯ → ï
      "'Ã¼', 'ü')" //           Ã¼ → ü

  /** The planted pair: every document gets a CLEAN twin (typographic
    * suffix in correct UTF-8) and a MOJIBAKE twin (the same suffix as
    * its CP1252 double-encoding). Deterministic construction shared
    * with the oracle; repair(moji twin) ≡ clean twin by the chain
    * above, so the pair merges under the q142 fingerprint. */
  private[graft] val MojiCleanSuffix =
    " café naïve “quote’s – über…"
  private[graft] val MojiSuffix =
    " cafÃ© naÃ¯ve " +
      "â€œquoteâ€™s â€“ " +
      "Ã¼berâ€¦"

  /** q142's normalization applied to the REPAIRED text — the
    * fingerprint under which a mojibake twin merges with its clean
    * source (Spark SQL text; the oracle runs the same chain with
    * DuckDB's regexp flags). */
  private def mojiFpSqlOf(c: String): String =
    s"lower(trim(regexp_replace(${mojiRepairSqlOf(c)}, " +
      s"'${LlmQueries.WsClass}+', ' ')))"

  /** The oracle's spelling of the same fingerprint (DuckDB
    * regexp_replace needs the explicit 'g' flag; \s ≡ WsClass in RE2). */
  private def mojiFpDuckOf(c: String): String =
    s"lower(trim(regexp_replace(${mojiRepairSqlOf(c)}, '\\s+', ' ', 'g')))"

  // ----------------------------------------------------------- q277/q278

  /** Page id: four consecutive doc_ids share one logical page. Spelled
    * without integer division so the same text parses in both engines
    * (Spark `DIV` vs DuckDB `//`); doc_id ≥ 0 makes the subtraction
    * form exact. */
  private val PidSql = "(doc_id - (doc_id % 4))"

  /** Registrable host of a page (shared synthesis SQL): 7 rotating site
    * names over 4 suffixes — two of them two-level public suffixes so
    * the q278 suffix rule has real work — plus a deliberately tiny
    * `rare.com` cohort (pid ≡ 0 mod 1024) that stays UNDER the q278
    * cap. */
  private[graft] val HostSql: String =
    s"(CASE WHEN $PidSql % 1024 = 0 THEN 'rare' " +
      s"ELSE 'site' || CAST(($PidSql % 28) AS STRING) END) || " +
      s"(CASE ($PidSql % 16) WHEN 0 THEN '.com' WHEN 4 THEN '.org' " +
      "WHEN 8 THEN '.co.uk' ELSE '.com.au' END)"

  private val SchemeSql =
    s"(CASE WHEN $PidSql % 8 = 0 THEN 'https' ELSE 'http' END)"
  private val PathSql = s"'/article/' || CAST($PidSql AS STRING)"
  private val PidStr = s"CAST($PidSql AS STRING)"

  /** The synthesized raw URL per document — deterministic from doc_id,
    * same text interpolated into engine and oracle (the [[RawHtmlSql]]
    * discipline). The four members of a page spell the SAME logical
    * URL four hostile ways: (0) already canonical; (1) uppercase
    * scheme+host, `WWW.` prefix, explicit default port, reordered
    * params, fragment; (2) `www.` prefix, trailing slash, `utm_*`
    * tracking params; (3) `fbclid` tracking param, reordered params,
    * fragment — EXCEPT that on every third page (pid ≡ 8 mod 12)
    * member 3 points at a genuinely different path, the negative
    * control proving canonicalization never over-merges. */
  private[graft] val RawUrlSql: String =
    "CASE (doc_id % 4) " +
      s"WHEN 0 THEN $SchemeSql || '://' || $HostSql || $PathSql || " +
      s"'?id=' || $PidStr || '&lang=en' " +
      s"WHEN 1 THEN upper($SchemeSql) || '://WWW.' || upper($HostSql) || " +
      s"(CASE WHEN $PidSql % 8 = 0 THEN ':443' ELSE ':80' END) || " +
      s"$PathSql || '?lang=en&id=' || $PidStr || '#top' " +
      s"WHEN 2 THEN $SchemeSql || '://www.' || $HostSql || $PathSql || " +
      s"'/' || '?id=' || $PidStr || '&utm_source=feed&utm_campaign=w12&lang=en' " +
      s"ELSE $SchemeSql || '://' || $HostSql || " +
      s"(CASE WHEN $PidSql % 12 = 8 THEN '/other/' || CAST(doc_id AS STRING) " +
      s"ELSE $PathSql END) || " +
      s"'?fbclid=x9&lang=en&id=' || $PidStr || '#s2' END"

  /** Tracking-parameter rule, ONE definition: a query parameter is
    * dropped iff its name starts with `utm_` or is exactly `fbclid` /
    * `gclid`. The oracle spells the identical rule with list_filter. */
  private val KeepParamPred =
    "x -> x <> '' AND substr(x, 1, 4) <> 'utm_' " +
      "AND NOT (regexp_extract(x, '^([^=]*)', 1) IN ('fbclid', 'gclid'))"

  /** q277's canonicalizer over an explicit (doc_id, url) frame —
    * factored so the spec can drive planted URLs (non-default ports
    * that must be KEPT, http/https staying distinct, schemeless and
    * empty hostile strings degrading deterministically) without the
    * synthesized corpus. Pure map-side regexp/array expressions; a
    * string regexp_extract never throws, so a malformed URL yields ''
    * components and a degenerate-but-deterministic canonical form,
    * never a crash (hostile-input contract, spec-pinned). */
  private[graft] def canonicalized(raw: DataFrame): DataFrame =
    raw
      .withColumn("sch", lower(regexp_extract(col("url"),
        "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)))
      .withColumn("hostport", regexp_extract(col("url"),
        "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
      .withColumn("path0", regexp_extract(col("url"),
        "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1))
      .withColumn("q", regexp_extract(col("url"), "^[^#]*[?]([^#]*)", 1))
      .withColumn("host", regexp_replace(
        lower(regexp_extract(col("hostport"), "^([^:]*)", 1)), "^www\\.", ""))
      .withColumn("port", regexp_extract(col("hostport"), ":([0-9]+)$", 1))
      .withColumn("portn", expr(
        "CASE WHEN port = '' OR (sch = 'http' AND port = '80') " +
          "OR (sch = 'https' AND port = '443') THEN '' " +
          "ELSE ':' || port END"))
      .withColumn("pathn", expr(
        "CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/' " +
          "ELSE regexp_replace(path0, '/+$', '') END"))
      .withColumn("ps", expr(
        s"array_join(array_sort(filter(split(q, '&'), $KeepParamPred)), '&')"))
      .withColumn("canon_url", expr(
        "sch || '://' || host || portn || pathn || " +
          "(CASE WHEN ps = '' THEN '' ELSE '?' || ps END)"))
      .select(raw.columns.toIndexedSeq.map(col) :+ col("canon_url"): _*)

  /** Two-level public suffixes the engine recognizes (a deliberately
    * small built-in set — the operator's contract is the RULE, not a
    * frozen copy of the full public-suffix list). Shared with the
    * oracle. */
  private[graft] val TwoLevelSuffixes =
    Seq("co.uk", "com.au", "ac.uk", "gov.uk", "org.uk")

  /** Registrable domain of a lowercase host column: last three labels
    * when the trailing two form a known two-level suffix (and a third
    * exists), else last two. Factored for the spec (bare two-label
    * hosts, the suffix itself as a host, deep subdomains). */
  private[graft] def withRegistrableDomain(df: DataFrame): DataFrame = {
    val sfx = TwoLevelSuffixes.map(s => s"'$s'").mkString(", ")
    df.withColumn("lb", split(col("host"), "[.]"))
      .withColumn("dom", expr(
        "CASE WHEN size(lb) >= 3 AND " +
          s"element_at(lb, -2) || '.' || element_at(lb, -1) IN ($sfx) " +
          "THEN element_at(lb, -3) || '.' || element_at(lb, -2) || '.' || " +
          "element_at(lb, -1) " +
          "ELSE element_at(lb, -2) || '.' || element_at(lb, -1) END"))
      .drop("lb")
  }

  /** Per-domain document cap. */
  private[graft] val DomainCap = 10

  // ----------------------------------------------------------------- q281

  /** Bloom-filter words in the gate configuration. 62 usable bits per
    * long (bits 62/63 never set, so no sign games in either engine);
    * 1024 words ≈ 63 kbits — a CONSTANT-size artifact no matter the
    * corpus, which is the whole point: at 100 TB the frontier
    * pre-filter ships to every executor as a broadcast measured in
    * kilobytes while the exact seen-set artifact (q277) stays in
    * storage. k = 4 index draws from one md5 (16 bits each). */
  private[graft] val BloomWords = 1024

  /** (word, bit) index pairs for a url column, as an exploded frame —
    * the four draws are the first four 16-bit chunks of
    * md5('ubf|' || url), reduced mod the bit-space. Deterministic and
    * engine-replicable (the q278 md5-prefix discipline). */
  private def bloomIdx(df: DataFrame, urlCol: String, words: Int): DataFrame = {
    val m = words * 62
    df.withColumn("kk", expr(
      s"transform(sequence(0, 3), i -> " +
        s"CAST(conv(substr(md5('ubf|' || $urlCol), i * 4 + 1, 4), 16, 10) " +
        s"AS BIGINT) % $m)"))
      .select(col("*"), explode(col("kk")).as("idx")).drop("kk")
      .withColumn("w", expr("idx DIV 62"))
      .withColumn("bit", expr("idx % 62"))
      .drop("idx")
  }

  /** Build the Bloom bitmap artifact over a (url) frame: ≤ `words`
    * rows of (w, bits). One exploded projection + one partial-agged
    * bit_or aggregation — the exchange is bounded by the BITMAP size,
    * never the corpus. */
  private[graft] def urlBloomBitmap(urls: DataFrame, urlCol: String,
      words: Int = BloomWords): DataFrame =
    bloomIdx(urls, urlCol, words)
      .groupBy(col("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(bit AS INT)))").as("bits"))

  /** Probe a (probe_url) frame against the bitmap: a probe hits iff
    * all four of its bits are set. The bitmap side is broadcast — a
    * LEGITIMATE forced broadcast, because its size is the constant
    * `words`, not corpus-growing (the scale-gate rule distinguishes
    * exactly this). A probe index whose word row is absent has no set
    * bits at all (coalesce 0). */
  private[graft] def bloomProbe(probes: DataFrame, bitmap: DataFrame,
      urlCol: String, words: Int = BloomWords): DataFrame =
    bloomIdx(probes, urlCol, words)
      .join(broadcast(bitmap), Seq("w"), "left")
      .withColumn("hit", expr(
        "(coalesce(bits, 0L) & shiftleft(1L, CAST(bit AS INT))) <> 0L"))
      .drop("w", "bit", "bits")
      .groupBy(probes.columns.toIndexedSeq.map(col): _*)
      .agg(min(col("hit")).as("bloom_hit"))

  // ----------------------------------------------------------------- q282

  /** The synthesized crawl-policy rule set — ONE Scala value renders
    * both the engine frame and the oracle's VALUES list. Every domain
    * gets the default-allow root and a deny on the breakaway `/other/`
    * paths; the even-name domains add a deny on `/article/` with a
    * LONGER allow override (`/article/1`) and an equal-length
    * allow/deny pair (`/article/2` twice) — the two precedence cases
    * the robots.txt rule is about: longest match wins, and a tie goes
    * to allow. */
  private[graft] val RobotRules: Seq[(String, String, Int)] = {
    val doms = (for {
      n <- Seq(0, 4, 8, 12, 16, 20, 24)
      s <- Seq(".com", ".org", ".co.uk", ".com.au")
    } yield s"site$n$s") :+ "rare.com"
    val even = doms.filter(d =>
      Seq("site0.", "site8.", "site16.", "site24.", "rare.")
        .exists(d.startsWith))
    doms.flatMap(d => Seq((d, "/", 1), (d, "/other/", 0))) ++
      even.flatMap(d => Seq((d, "/article/", 0), (d, "/article/1", 1),
        (d, "/article/2", 1), (d, "/article/2", 0)))
  }

  /** Apply the policy to a (doc_id, host, path) frame: per URL the
    * winning rule is the longest matching prefix, allow beating deny
    * on an exact length tie — picked by one max-of-struct aggregate
    * (len, allow, pfx), no window. The rules side is broadcast —
    * bounded by the POLICY size, not the corpus. */
  private[graft] def robotVerdicts(urls: DataFrame): DataFrame = {
    val s = urls.sparkSession
    import s.implicits._
    val rules = RobotRules.toDF("dom", "pfx", "allow")
    urls.join(broadcast(rules), col("host") === col("dom"))
      .filter(expr("substr(path, 1, length(pfx)) = pfx"))
      .groupBy(col("doc_id"), col("host"))
      .agg(max(struct(length(col("pfx")).as("l"), col("allow").as("a"),
        col("pfx").as("p"))).as("w"))
      .select(col("doc_id"), col("host"),
        when(col("w.a") === 1, lit("allow")).otherwise(lit("deny"))
          .as("verdict"),
        col("w.p").as("rule_pfx"))
  }

  /** The q281 absent-probe URL: canonical-shaped by construction
    * (lowercase scheme/host, no params) on a path the corpus never
    * produces. Shared synthesis SQL. */
  private[graft] val AbsentUrlSql: String =
    s"$SchemeSql || '://' || $HostSql || '/absent/' || $PidStr"

  /** The oracle's spelling of [[canonicalized]] over the synthesized
    * corpus, as a WITH-chain ending in `c(doc_id, url, canon_url)` —
    * ONE definition shared by the q277 oracle and the q280 streaming
    * frontier's batch-parity oracle, so the canonicalizer can never
    * fork between them. */
  private[graft] val DuckCanonChain: String =
    s"""raw AS (SELECT doc_id, $RawUrlSql AS url FROM documents),
       |p AS (SELECT doc_id, url,
       |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
       |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
       |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
       |  regexp_extract(url, '^[^#]*[?]([^#]*)', 1) AS q
       |  FROM raw),
       |h AS (SELECT *,
       |  regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)),
       |    '^www\\.', '') AS host,
       |  regexp_extract(hostport, ':([0-9]+)$$', 1) AS port FROM p),
       |n AS (SELECT *,
       |  CASE WHEN port = '' OR (sch = 'http' AND port = '80')
       |    OR (sch = 'https' AND port = '443') THEN ''
       |    ELSE ':' || port END AS portn,
       |  CASE WHEN regexp_replace(path0, '/+$$', '') = '' THEN '/'
       |    ELSE regexp_replace(path0, '/+$$', '') END AS pathn,
       |  array_to_string(list_sort(list_filter(string_split(q, '&'),
       |    x -> x <> '' AND substr(x, 1, 4) <> 'utm_'
       |      AND NOT list_contains(['fbclid', 'gclid'],
       |        regexp_extract(x, '^([^=]*)', 1)))), '&') AS ps
       |  FROM h),
       |c AS (SELECT doc_id, url,
       |  sch || '://' || host || portn || pathn ||
       |    (CASE WHEN ps = '' THEN '' ELSE '?' || ps END) AS canon_url
       |  FROM n)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- HTML boilerplate extraction (q275): the first stage of every
    // raw-web training-data pipeline. Page synthesis + block scoring
    // are one map-side projection chain (regexp/replace inside
    // whole-stage codegen); rows out = docs × blocks; the only
    // exchange is the output sort. Row-level oracle: DuckDB rebuilds
    // the identical pages and replicates the integer block scoring.
    "q275_html_extract" -> ((s, dir) => {
      val pages = Tables.documents(s, dir)
        .select(col("doc_id"), expr(RawHtmlSql).as("html"))
      htmlBlockStats(pages).orderBy(col("doc_id"), col("blk"))
    }),

    // --- encoding repair / mojibake normalization (q276): the sibling
    // ingest stage. Per document: the mojibake-marker census of the
    // corrupted twin, proof the RAW twins do NOT merge, proof the
    // REPAIRED twins DO merge under the q142 fingerprint, and the
    // fingerprint itself. Pure map-side replace chains; scale shape
    // identical to q275.
    "q276_mojibake_repair" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr(s"text || '$MojiCleanSuffix'").as("clean"),
          expr(s"text || '$MojiSuffix'").as("moji"))
        .select(col("doc_id"),
          // marker census: 'Ã' is one char per Latin-1-class hit,
          // 'â€' two chars per punctuation-class hit
          expr("CAST((length(moji) - length(replace(moji, 'Ã', ''))) " +
            "+ ((length(moji) - length(replace(moji, 'â€', ''))) DIV 2) " +
            "AS BIGINT)").as("markers"),
          (md5(col("clean")) === md5(col("moji"))).as("merged_raw"),
          (md5(expr(mojiFpSqlOf("clean"))) ===
            md5(expr(mojiFpSqlOf("moji")))).as("merged"),
          md5(expr(mojiFpSqlOf("clean"))).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // --- URL canonicalization + exact URL dedup (q277): group by the
    // canonical form, keep-first. Canonicalization is map-side codegen
    // (regexp/array expressions); the ONLY exchange is the hash
    // aggregation on canon_url — group count ≈ pages, far below docs.
    // Row-level oracle: DuckDB rebuilds the identical raw URLs and
    // replicates the canonicalizer (same regexes, same parameter rule,
    // same sort). dups=4 groups prove the four spellings merge;
    // dups=3 + singleton groups (the breakaway path) prove no
    // over-merge.
    "q277_url_canonical_dedup" -> ((s, dir) => {
      val raw = Tables.documents(s, dir)
        .select(col("doc_id"), expr(RawUrlSql).as("url"))
      canonicalized(raw)
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("keep_doc"),
          count(lit(1)).as("dups"),
          countDistinct(col("url")).as("raw_variants"))
        .orderBy(col("canon_url"))
    }),

    // --- registrable-domain caps (q278): extract the registrable
    // domain (public-suffix rule), then keep at most DomainCap docs
    // per domain by deterministic md5 order. The bounded-heap TopK
    // partial-aggregates map-side, so the exchange carries
    // O(domains × K) — the scalable form of the oracle's window
    // row_number, proven equal to it row-level. kept_sum (sum of the
    // kept doc_ids) pins the SELECTION, not just the counts.
    "q278_domain_caps" -> ((s, dir) => {
      val hosts = Tables.documents(s, dir)
        .select(col("doc_id"), expr(HostSql).as("host"))
      withRegistrableDomain(hosts)
        // 48-bit md5 prefix: exact in a Double, so the heap's ordering
        // is identical to the oracle's BIGINT ORDER BY
        .withColumn("score", expr(
          "CAST(conv(substr(md5('dcap|' || CAST(doc_id AS STRING)), 1, 12), " +
            "16, 10) AS BIGINT)"))
        .groupBy(col("dom"))
        .agg(count(lit(1)).as("n_docs"),
          Vectors.topK(DomainCap)(col("score").cast("double"), col("doc_id")).as("tk"))
        .select(col("dom"), col("n_docs"),
          least(col("n_docs"), lit(DomainCap.toLong)).as("n_kept"),
          (col("n_docs") - least(col("n_docs"), lit(DomainCap.toLong)))
            .as("n_dropped"),
          expr("aggregate(tk, 0L, (a, x) -> a + x._2)").as("kept_sum"))
        .orderBy(col("dom"))
    }),

    // --- Bloom-filter URL-seen pre-filter (q281): the constant-size
    // companion artifact to the q277 exact seen-set — at 100 TB the
    // frontier asks "definitely new?" against a kilobyte bitmap on
    // every executor before ever touching the stored artifact. Build:
    // one exploded projection + one bit_or aggregation bounded by the
    // bitmap, never the corpus. Probe: the k index draws against the
    // BROADCAST bitmap (legitimately forced — the size is the constant
    // BloomWords). The gate probes a present cohort (must ALL hit —
    // the Bloom guarantee) and a synthesized absent cohort (misses up
    // to deterministic false positives, which the md5 chain makes
    // engine-identical). IngestSpec proves the guarantee and drives a
    // deliberately tiny bitmap to exercise real false positives.
    "q281_url_bloom_prefilter" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // repartition before the synthesis+canonicalizer regexp chain and
      // checkpoint it: the chain is ~10 regexp/array expressions per
      // row, it used to run inside the single-file scan task, and BOTH
      // consumers below (bitmap build, present-probe side) re-ran it
      // (measured 4.0 s wall at cpu/run 0.87). One narrow doc_id
      // exchange spreads it; the checkpoint runs it once.
      val canon = canonicalized(graft.operators.Gates.spreadScan(
        docs.select(col("doc_id"), expr(RawUrlSql).as("url"))))
        .select(col("doc_id"), col("canon_url"))
        .localCheckpoint()
      val bitmap = urlBloomBitmap(
        canon.select(col("canon_url").as("url")).distinct(), "url")
      val probes = canon.filter(col("doc_id") % 8 === 1)
        .select(col("canon_url").as("probe_url"), lit(true).as("expected"))
        .unionByName(docs.filter(col("doc_id") % 8 === 1)
          .select(expr(AbsentUrlSql).as("probe_url"),
            lit(false).as("expected")))
      bloomProbe(probes, bitmap, "probe_url")
        .orderBy(col("probe_url"))
    }),

    // --- crawl-policy application (q282): robots.txt precedence over
    // the canonical URLs — longest matching path-prefix rule wins, an
    // exact-length tie goes to allow. The rule table is policy-sized
    // (broadcast); the verdict is one max-of-struct aggregate per URL,
    // so no window and nothing corpus-sized funnels anywhere. The
    // synthesized rules exercise both precedence cases (the /article/1
    // longer-allow override and the /article/2 equal-length tie) on
    // the even-name domains.
    "q282_crawl_policy" -> ((s, dir) => {
      // same repartition-before-the-regexp-chain shape as q281 (one
      // consumer here, so no checkpoint needed)
      val canon = canonicalized(graft.operators.Gates.spreadScan(
        Tables.documents(s, dir)
          .select(col("doc_id"), expr(RawUrlSql).as("url"))))
        .select(col("doc_id"),
          regexp_extract(col("canon_url"), "://([^/:?#]*)", 1).as("host"),
          regexp_extract(col("canon_url"), "://[^/?#]*([^?#]*)", 1)
            .as("path"))
      robotVerdicts(canon).orderBy(col("doc_id"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q275_html_extract" ->
      s"""WITH raw AS (SELECT doc_id, $RawHtmlSql AS html FROM documents),
         |b AS (SELECT doc_id,
         |        regexp_extract_all(html, '$SectionPat', 1) AS blks
         |      FROM raw),
         |e AS (SELECT doc_id, unnest(range(1, len(blks) + 1)) AS blk,
         |        unnest(blks) AS bk FROM b),
         |m AS (SELECT doc_id, blk,
         |        trim(regexp_replace(replace(replace(replace(
         |          regexp_replace(bk, '(?s)<[^>]*>', ' ', 'g'),
         |          '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
         |          '\\s+', ' ', 'g')) AS content,
         |        CAST(coalesce(list_sum(list_transform(
         |          regexp_extract_all(bk, '$AnchorPat', 1),
         |          x -> length(x))), 0) AS BIGINT) AS link_len
         |      FROM e),
         |f AS (SELECT doc_id, blk, CAST(length(content) AS BIGINT) AS text_len,
         |        link_len, content FROM m),
         |g AS (SELECT doc_id, blk, text_len, link_len,
         |        CASE WHEN text_len = 0 THEN 100
         |          ELSE (2 * link_len * 100 + text_len) // (2 * text_len)
         |        END AS ld_pct, content FROM f)
         |SELECT doc_id, CAST(blk AS BIGINT) AS blk, text_len, link_len,
         |  CAST(ld_pct AS BIGINT) AS ld_pct,
         |  (text_len >= $MinBlockChars AND ld_pct <= $MaxLinkDensityPct)
         |    AS keep,
         |  CASE WHEN text_len >= $MinBlockChars
         |    AND ld_pct <= $MaxLinkDensityPct
         |    THEN content ELSE '' END AS main_text
         |FROM g ORDER BY doc_id, blk""".stripMargin,

    "q276_mojibake_repair" ->
      s"""WITH d AS (SELECT doc_id,
         |        text || '$MojiCleanSuffix' AS clean,
         |        text || '$MojiSuffix' AS moji
         |      FROM documents)
         |SELECT doc_id,
         |  CAST((length(moji) - length(replace(moji, 'Ã', '')))
         |    + ((length(moji) - length(replace(moji, 'â€', ''))) // 2)
         |    AS BIGINT) AS markers,
         |  (md5(clean) = md5(moji)) AS merged_raw,
         |  (md5(${mojiFpDuckOf("clean")}) = md5(${mojiFpDuckOf("moji")}))
         |    AS merged,
         |  md5(${mojiFpDuckOf("clean")}) AS fp
         |FROM d ORDER BY doc_id""".stripMargin,

    "q277_url_canonical_dedup" ->
      s"""WITH $DuckCanonChain
         |SELECT canon_url, CAST(min(doc_id) AS BIGINT) AS keep_doc,
         |  CAST(count(*) AS BIGINT) AS dups,
         |  CAST(count(DISTINCT url) AS BIGINT) AS raw_variants
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q278_domain_caps" -> {
      val sfx = TwoLevelSuffixes.map(s => s"'$s'").mkString(", ")
      s"""WITH raw AS (SELECT doc_id, $HostSql AS host FROM documents),
         |d AS (SELECT doc_id, host, string_split(host, '.') AS lb FROM raw),
         |r AS (SELECT doc_id,
         |  CASE WHEN len(lb) >= 3 AND list_contains([$sfx],
         |      lb[-2] || '.' || lb[-1])
         |    THEN lb[-3] || '.' || lb[-2] || '.' || lb[-1]
         |    ELSE lb[-2] || '.' || lb[-1] END AS dom
         |  FROM d),
         |s AS (SELECT doc_id, dom,
         |  CAST(CAST('0x' || substr(md5('dcap|' || CAST(doc_id AS STRING)),
         |    1, 12) AS UBIGINT) AS BIGINT) AS score
         |  FROM r),
         |w AS (SELECT *, row_number() OVER (PARTITION BY dom
         |    ORDER BY score DESC, doc_id) AS rn FROM s)
         |SELECT dom, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (rn <= $DomainCap) AS BIGINT) AS n_kept,
         |  CAST(count(*) FILTER (rn > $DomainCap) AS BIGINT) AS n_dropped,
         |  CAST(coalesce(sum(doc_id) FILTER (rn <= $DomainCap), 0)
         |    AS BIGINT) AS kept_sum
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // q281: the identical md5-chunk index chain and 62-bit words in
    // HUGEINT-free integer SQL; bool_and is the oracle spelling of the
    // engine's min(hit).
    "q281_url_bloom_prefilter" -> {
      val m = BloomWords * 62
      s"""WITH $DuckCanonChain,
         |built AS (SELECT DISTINCT canon_url AS url FROM c),
         |bx AS (SELECT url,
         |    CAST(CAST('0x' || substr(md5('ubf|' || url), i * 4 + 1, 4)
         |      AS UBIGINT) AS BIGINT) % $m AS idx
         |  FROM built, (SELECT unnest([0, 1, 2, 3]) AS i)),
         |bm AS (SELECT idx // 62 AS w,
         |    bit_or(CAST(1 AS BIGINT) << CAST(idx % 62 AS INT)) AS bits
         |  FROM bx GROUP BY 1),
         |pr AS (SELECT canon_url AS probe_url, true AS expected
         |    FROM c WHERE doc_id % 8 = 1
         |  UNION ALL
         |  SELECT $AbsentUrlSql, false FROM documents WHERE doc_id % 8 = 1),
         |px AS (SELECT probe_url, expected,
         |    CAST(CAST('0x' || substr(md5('ubf|' || probe_url), i * 4 + 1, 4)
         |      AS UBIGINT) AS BIGINT) % $m AS idx
         |  FROM pr, (SELECT unnest([0, 1, 2, 3]) AS i)),
         |pj AS (SELECT probe_url, expected,
         |    (coalesce(bits, 0) & (CAST(1 AS BIGINT) << CAST(idx % 62 AS INT)))
         |      <> 0 AS hit
         |  FROM px LEFT JOIN bm ON px.idx // 62 = bm.w)
         |SELECT probe_url, expected, bool_and(hit) AS bloom_hit
         |FROM pj GROUP BY 1, 2 ORDER BY probe_url""".stripMargin
    },

    // q282: the same rule list (rendered from the ONE Scala constant)
    // and the same (length, allow, pfx) precedence, spelled as a
    // window for the oracle.
    "q282_crawl_policy" -> {
      val values = RobotRules
        .map { case (d, p, a) => s"('$d', '$p', $a)" }.mkString(", ")
      s"""WITH $DuckCanonChain,
         |u AS (SELECT doc_id,
         |    regexp_extract(canon_url, '://([^/:?#]*)', 1) AS host,
         |    regexp_extract(canon_url, '://[^/?#]*([^?#]*)', 1) AS path
         |  FROM c),
         |r(dom, pfx, allow) AS (SELECT * FROM (VALUES $values)),
         |m AS (SELECT doc_id, host, pfx, allow,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY length(pfx) DESC, allow DESC, pfx DESC) AS rn
         |  FROM u JOIN r ON u.host = r.dom
         |  WHERE substr(path, 1, length(pfx)) = pfx)
         |SELECT doc_id, host,
         |  CASE WHEN allow = 1 THEN 'allow' ELSE 'deny' END AS verdict,
         |  pfx AS rule_pfx
         |FROM m WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }
  )
}
