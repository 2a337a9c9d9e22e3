package graft.operators

import graft.QueryDef
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization + dedup-by-URL — the cheapest dedup pass a
  * crawl pipeline runs, BEFORE any content hashing (CCNet/RefinedWeb
  * dedup stacks start here): collapse the alias noise crawlers see
  * (scheme, host case, `www.`, explicit default ports, trailing
  * slashes, tracking query params, param order, fragments) and keep
  * one document per canonical page.
  *
  * Canonical form = `host + path [+ '?' + sorted surviving params]`
  * where: the fragment and scheme are stripped ((?i)https?://), the
  * host lowercases, loses a leading `www.` and an explicit default
  * port (:80/:443 — other ports survive), the path loses ONE trailing
  * slash, and query params drop the tracking family
  * (`utm_*`/`fbclid`/`sessionid`) then sort. Every rule is a regex in
  * the Java∩RE2 subset or a list op both engines state identically
  * (the q149 discipline); no URL-parsing library on either side, so
  * the two engines cannot diverge on a parser quirk. Precondition
  * (guaranteed by the fixture, documented for callers): the URL has a
  * path — the first '/' after the scheme separates host from path.
  */
object Urls {

  /** The (clean host, canonical form) pair — one shared expression
    * tree so callers that need BOTH never re-parse the canonical
    * string (re-deriving host via `substring_index(canon, '/', 1)` is
    * wrong when the trailing-slash rule empties a root path and a
    * query survives: `http://h.io/?id=1` → canon `h.io?id=1` has no
    * '/', so the re-parse would return `h.io?id=1` as the host).
    */
  def canonicalParts(url: Column): (Column, Column) = {
    val ns = regexp_replace(regexp_replace(url, "#.*$", ""),
      "(?i)^https?://", "")
    val rawHost = substring_index(ns, "/", 1)
    val rest = substr(ns, length(rawHost) + 1)
    val host = regexp_replace(
      regexp_replace(lower(rawHost), "^www\\.", ""), ":(80|443)$", "")
    val path = regexp_replace(substring_index(rest, "?", 1), "/$", "")
    val query = when(instr(rest, "?") > 0,
      substr(rest, instr(rest, "?") + 1)).otherwise(lit(""))
    val params = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[a-z]+|fbclid|sessionid)=")))
    val canon = concat(host, path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
    (host, canon)
  }

  /** Canonicalize a URL column — pure per-row Column expressions
    * (map-only, codegen'd; no UDF, no parser object).
    */
  def canonical(url: Column): Column = canonicalParts(url)._2

  /** The cleaned host alone (lowercased, `www.`/default-port
    * stripped) — carry THIS into per-domain rollups, never a re-parse
    * of the canonical string.
    */
  def hostOf(url: Column): Column = canonicalParts(url)._1

  // Dedup by canonical URL over the committed crawl manifest: one
  // in-row canonicalization pass + ONE canonical-keyed agg (keeper =
  // min doc_id, alias count) — the 100 TB shape is exactly this
  // (map-only rewrite, one keyed exchange; the canonical string is
  // the shuffle key the content-dedup tier then reuses for
  // co-partitioned joins). Output row per canonical page keeps the
  // host column so the per-domain rollup is a free regroup.
  val q168UrlDedup: QueryDef = QueryDef(
    "q168_url_dedup",
    (s, dir) => {
      val (hostC, canonC) = canonicalParts(col("url"))
      graft.Fixtures.read(s, graft.Fixtures.urlCorpusPath)
        .withColumn("canon", canonC)
        .withColumn("host", hostC)
        .groupBy(col("canon"), col("host"))
        .agg(min(col("doc_id")).as("keep_doc"),
          count(lit(1)).as("n_aliases"))
        .orderBy("canon")
    },
    Some(s"""WITH c AS (
           |  SELECT doc_id,
           |    regexp_replace(regexp_replace(url, '#.*$$', ''),
           |      '(?i)^https?://', '') AS ns
           |  FROM read_parquet('${graft.Fixtures.urlCorpusPath}')),
           |h AS (
           |  SELECT doc_id,
           |    regexp_replace(regexp_replace(
           |      lower(split_part(ns, '/', 1)), '^www\\.', ''),
           |      ':(80|443)$$', '') AS host,
           |    substr(ns, length(split_part(ns, '/', 1)) + 1) AS rest
           |  FROM c),
           |p AS (
           |  SELECT doc_id, host,
           |    regexp_replace(split_part(rest, '?', 1), '/$$', '')
           |      AS path,
           |    CASE WHEN strpos(rest, '?') > 0
           |         THEN substr(rest, strpos(rest, '?') + 1)
           |         ELSE '' END AS q
           |  FROM h),
           |n AS (
           |  SELECT doc_id, host,
           |    host || path ||
           |    CASE WHEN len(ps) > 0
           |         THEN '?' || array_to_string(ps, '&')
           |         ELSE '' END AS canon
           |  FROM (SELECT doc_id, host, path,
           |          list_sort(list_filter(string_split(q, '&'),
           |            x -> x <> '' AND NOT regexp_matches(x,
           |              '^(utm_[a-z]+|fbclid|sessionid)='))) AS ps
           |        FROM p) f)
           |SELECT canon, host, MIN(doc_id) AS keep_doc,
           |  COUNT(*) AS n_aliases
           |FROM n GROUP BY canon, host ORDER BY canon""".stripMargin),
    bench = true, lowLatency = true)

  // Domain-suffix blocklist filter — the URL-tier gate every crawl
  // pipeline runs next to canonicalization (Dolma/CCNet-class domain
  // deny lists; RefinedWeb §3.1 URL filtering): a document is blocked
  // iff ANY dot-suffix of its cleaned host (`a.b.example.com` →
  // {a.b.example.com, b.example.com, example.com, com}) appears in
  // the blocklist, so one listed registrable domain covers every
  // subdomain. The suffix set builds IN-ROW (split + transform/slice
  // over ≤ label-count elements — codegen'd list ops, no UDF); the
  // per-domain audit is an explode + broadcast-able equi-join LEFT
  // from the blocklist (a listed domain that matches nothing must
  // report 0 — silently dropping it hides a stale list); the
  // retention row checks membership in-row against the frozen list
  // via Membership.overlaps (an exact broadcast binary-search probe
  // per suffix, pinned against Scala `Set` membership in
  // MembershipSpec). One corpus scan feeds both consumers via the
  // persist cache.
  val q179DomainBlocklist: QueryDef = QueryDef(
    "q179_domain_blocklist",
    (s, dir) => {
      val block = graft.Fixtures.read(s,
        graft.Fixtures.domainBlocklistPath)
      val domains = block.collect().map(_.getString(0)).toSeq
      val corpus = graft.Fixtures.read(s, graft.Fixtures.urlCorpusPath)
        .withColumn("host", hostOf(col("url")))
        .withColumn("labels", split(col("host"), "\\."))
        .withColumn("sufs",
          transform(sequence(lit(1), size(col("labels"))), i =>
            array_join(slice(col("labels"), i,
              size(col("labels")) - i + 1), ".")))
        .transform(graft.Caches.persist) // per-domain + kept consumers
      val perDomain = block.join(
          corpus.select(col("doc_id"), explode(col("sufs")).as("domain")),
          Seq("domain"), "left")
        .groupBy(col("domain"))
        .agg(count(col("doc_id")).as("n_docs"))
      val kept = corpus
        .filter(!graft.functions.Membership.overlaps(col("sufs"),
          domains))
        .agg(count(lit(1)).as("n_docs"))
        .select(lit("__kept__").as("domain"), col("n_docs"))
      perDomain.unionByName(kept).orderBy("domain")
    },
    Some(s"""WITH b AS (SELECT domain
           |           FROM read_parquet('${graft.Fixtures.domainBlocklistPath}')),
           |u AS (
           |  SELECT doc_id,
           |    regexp_replace(regexp_replace(
           |      lower(split_part(regexp_replace(regexp_replace(url,
           |        '#.*$$', ''), '(?i)^https?://', ''), '/', 1)),
           |      '^www\\.', ''), ':(80|443)$$', '') AS host
           |  FROM read_parquet('${graft.Fixtures.urlCorpusPath}')),
           |s AS (SELECT doc_id, string_split(host, '.') AS labels
           |      FROM u),
           |sf AS (
           |  SELECT doc_id, array_to_string(labels[i:], '.') AS domain
           |  FROM s, unnest(range(1, len(labels) + 1)) AS r(i)),
           |pd AS (
           |  SELECT b.domain, COUNT(sf.doc_id) AS n_docs
           |  FROM b LEFT JOIN sf ON sf.domain = b.domain
           |  GROUP BY 1),
           |kept AS (
           |  SELECT '__kept__' AS domain, COUNT(*) AS n_docs FROM u
           |  WHERE doc_id NOT IN (
           |    SELECT doc_id FROM sf
           |    WHERE domain IN (SELECT domain FROM b)))
           |SELECT domain, n_docs FROM pd
           |UNION ALL SELECT domain, n_docs FROM kept
           |ORDER BY domain""".stripMargin))

  /** host + canonical + blocked columns in ONE in-row pass — one
    * definition for the batch capstone (q180) and the streaming
    * frontier (q182), so the gate rules cannot drift between the two
    * arms. Stateless per-row Column work: legal verbatim inside a
    * micro-batch plan.
    */
  private[graft] def crawlDress(
      df: org.apache.spark.sql.DataFrame,
      domains: Seq[String]): org.apache.spark.sql.DataFrame = {
    val (hostC, canonC) = canonicalParts(col("url"))
    df.withColumn("host", hostC)
      .withColumn("canon", canonC)
      .withColumn("labels", split(col("host"), "\\."))
      .withColumn("blocked", graft.functions.Membership.overlaps(
        transform(sequence(lit(1), size(col("labels"))), i =>
          array_join(slice(col("labels"), i,
            size(col("labels")) - i + 1), ".")),
        domains))
      .drop("labels")
  }

  /** ONE oracle text for q180 (batch capstone) AND q182 (streaming
    * frontier): the drained stream's audit is DEFINED as the batch
    * answer — sharing the oracle is the equivalence claim, the
    * q174/q177 pattern.
    */
  private[operators] lazy val crawlAuditOracleSql: String =
    s"""WITH b AS (SELECT domain
       |           FROM read_parquet('${graft.Fixtures.domainBlocklistPath}')),
       |c AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(url, '#.*$$', ''),
       |      '(?i)^https?://', '') AS ns
       |  FROM read_parquet('${graft.Fixtures.urlCorpusPath}')),
       |h AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(
       |      lower(split_part(ns, '/', 1)), '^www\\.', ''),
       |      ':(80|443)$$', '') AS host,
       |    substr(ns, length(split_part(ns, '/', 1)) + 1) AS rest
       |  FROM c),
       |p AS (
       |  SELECT doc_id, host,
       |    regexp_replace(split_part(rest, '?', 1), '/$$', '')
       |      AS path,
       |    CASE WHEN strpos(rest, '?') > 0
       |         THEN substr(rest, strpos(rest, '?') + 1)
       |         ELSE '' END AS q
       |  FROM h),
       |n AS (
       |  SELECT doc_id, host,
       |    host || path ||
       |    CASE WHEN len(ps) > 0
       |         THEN '?' || array_to_string(ps, '&')
       |         ELSE '' END AS canon
       |  FROM (SELECT doc_id, host, path,
       |          list_sort(list_filter(string_split(q, '&'),
       |            x -> x <> '' AND NOT regexp_matches(x,
       |              '^(utm_[a-z]+|fbclid|sessionid)='))) AS ps
       |        FROM p) f),
       |g AS (
       |  SELECT n.*,
       |    EXISTS (
       |      SELECT 1
       |      FROM unnest(range(1,
       |        len(string_split(n.host, '.')) + 1)) AS r(i)
       |      WHERE array_to_string(
       |          string_split(n.host, '.')[i:], '.')
       |        IN (SELECT domain FROM b)) AS blocked
       |  FROM n),
       |ph AS (
       |  SELECT host, COUNT(*) AS total_urls,
       |    CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
       |      AS blocked_urls,
       |    CAST(SUM(CASE WHEN NOT blocked THEN 1 ELSE 0 END)
       |      AS BIGINT) AS kept_urls
       |  FROM g GROUP BY host),
       |uq AS (
       |  SELECT host, COUNT(*) AS unique_pages
       |  FROM (SELECT host, canon FROM g WHERE NOT blocked
       |        GROUP BY host, canon) d
       |  GROUP BY host)
       |SELECT ph.host, ph.total_urls, ph.blocked_urls,
       |  ph.kept_urls, COALESCE(uq.unique_pages, 0) AS unique_pages
       |FROM ph LEFT JOIN uq ON ph.host = uq.host
       |ORDER BY ph.host""".stripMargin

  // Crawl-tier capstone — the URL stages composed as ONE Catalyst
  // plan, the q147/q153/q165 capstone discipline applied to the layer
  // that runs BEFORE any byte of content is fetched at scale:
  // canonicalize (q168's rules) → domain-suffix blocklist gate
  // (q179's, cheapest-first: a blocked URL never reaches dedup) →
  // dedup-by-canonical among survivors (q168's keeper) → per-domain
  // frontier audit (total / blocked / kept / unique pages). All
  // per-row work is one in-row pass (canonical form, clean host,
  // suffix set, blocked flag) persisted once for the two aggregation
  // consumers; exchanges are the host-keyed count agg and the
  // (host, canon)-keyed dedup agg — the same keyed-linear shapes the
  // component queries pin individually. The LEFT join keeps
  // fully-blocked domains in the audit with unique_pages = 0 (a
  // domain the gate zeroed must still report, not vanish).
  val q180CrawlPipeline: QueryDef = QueryDef(
    "q180_crawl_pipeline",
    (s, dir) => {
      val domains = graft.Fixtures.read(s,
        graft.Fixtures.domainBlocklistPath)
        .collect().map(_.getString(0)).toSeq
      val base = crawlDress(
        graft.Fixtures.read(s, graft.Fixtures.urlCorpusPath), domains)
        .transform(graft.Caches.persist) // count + dedup consumers
      val perHost = base.groupBy(col("host"))
        .agg(count(lit(1)).as("total_urls"),
          sum(when(col("blocked"), 1L).otherwise(0L))
            .as("blocked_urls"),
          sum(when(!col("blocked"), 1L).otherwise(0L))
            .as("kept_urls"))
      val uniq = base.filter(!col("blocked"))
        .groupBy(col("host"), col("canon"))
        .agg(min(col("doc_id")).as("keep_doc"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("unique_pages"))
      perHost.join(uniq, Seq("host"), "left")
        .select(col("host"), col("total_urls"), col("blocked_urls"),
          col("kept_urls"),
          coalesce(col("unique_pages"), lit(0L)).as("unique_pages"))
        .orderBy("host")
    },
    Some(crawlAuditOracleSql))

  val all: Seq[QueryDef] = Seq(q168UrlDedup, q179DomainBlocklist,
    q180CrawlPipeline)
}
