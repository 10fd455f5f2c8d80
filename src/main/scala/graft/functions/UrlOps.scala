package graft.functions

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + registrable-domain (eTLD+1) rollups — the
  * first filter of every crawl-curation pipeline (CCNet / C4 lineage):
  * before any text-level dedup runs, raw URLs collapse to canonical
  * form (one page, one key) and documents roll up per registrable
  * domain (the unit crawl policies act on: allowlists, per-domain
  * caps, dup-rate cuts). Complements [[Dedup.sourceOverlap]]'s
  * corpus-level view with the domain-level one.
  *
  * Everything here is a pure Column expression over Spark builtins
  * (regexp / array ops — codegen'd, map-only, no shuffle, no UDF), so
  * canonicalizing 100 TB of URLs is a projection; the rollup is one
  * hash-groupBy with map-side partial aggregation. Deterministic and
  * engine-portable — DuckDB replays every rule (see TextQueries'
  * q_url_canonicalize oracle).
  *
  * Canonicalization rules (documented contract):
  *  1. trim; strip the `#fragment`;
  *  2. scheme and host lowercase (path/query case preserved);
  *  3. leading `www.` dropped from the host;
  *  4. default ports stripped (`:80` for http, `:443` for https);
  *  5. tracking params dropped (`utm_*`, `fbclid`, `gclid`, `ref`);
  *  6. remaining query params sorted byte-order and re-joined;
  *  7. trailing slashes dropped from the path (root stays `/`).
  */
object UrlOps {

  /** Bundled FULL snapshot of the Mozilla Public Suffix List
    * (publicsuffix.org, MPL-2.0; ~9.5k rules incl. the private
    * registries), loaded from the `public_suffix_snapshot.dat`
    * classpath resource — refreshing that one file with a newer list
    * is the whole upgrade path. All three PSL rule kinds
    * are honored: exact multi-label suffixes (`co.uk`), wildcard rules
    * (`*.ck` — any single label in place of the `*` is part of the
    * suffix), and exception rules (`!www.ck` — the host is registrable
    * despite a covering wildcard; per the PSL algorithm the prevailing
    * suffix is the exception minus its leftmost label). The literal
    * subsets below are the fallback when the resource is absent (e.g.
    * a repackaged jar). The ALGORITHM (exception first, then longest
    * match, then one more label) is unchanged by list size — the
    * suffix literals ride the plan as an `isin`, which Catalyst
    * converts to a hashed InSet above 10 entries, so matching stays
    * O(1) per row at any list size.
    */
  private def loadSnapshot(): Seq[String] = try {
    val in = getClass.getResourceAsStream("/public_suffix_snapshot.dat")
    if (in == null) Nil
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally in.close()
  } catch { case _: Throwable => Nil }

  private val fallback3 = Seq("s3.amazonaws.com", "blogspot.co.uk")
  private val fallback2 = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "co.za", "com.tr", "com.ar", "github.io", "gitlab.io",
    "blogspot.com")
  private val fallbackW1 = Seq("ck", "mm")
  private val fallbackW2 = Seq("kawasaki.jp")
  private val fallbackE2 = Seq("www.ck")
  private val fallbackE3 = Seq("city.kawasaki.jp")
  private val snapshot: Seq[String] = loadSnapshot()
  private def labelsOf(s: String) = s.count(_ == '.') + 1
  private def byLen(raw: Seq[String], fb: Map[Int, Seq[String]]): Map[Int, Seq[String]] =
    if (snapshot.nonEmpty) raw.distinct.groupBy(labelsOf) else fb
  // rule tables keyed by label count — the matcher's when-chain is
  // GENERATED from the lengths present, so a 4-label exact rule
  // (a.prod.fastly.net) or a 3-label wildcard base (*.map.fastly.net)
  // in the snapshot just works; no fixed-depth clause list to outgrow
  val exactByLen: Map[Int, Seq[String]] = byLen(
    snapshot.filterNot(l => l.startsWith("*.") || l.startsWith("!")),
    Map(3 -> fallback3, 2 -> fallback2))
  // wildcard rule BASES (`*.ck` → "ck"): any host label in front of the
  // base is itself part of the public suffix
  val wildcardByLen: Map[Int, Seq[String]] = byLen(
    snapshot.filter(_.startsWith("*.")).map(_.stripPrefix("*.")),
    Map(1 -> fallbackW1, 2 -> fallbackW2))
  // exception rule HOSTS (`!www.ck` → "www.ck"): registrable despite a
  // covering wildcard; the prevailing suffix drops the leftmost label
  val exceptionByLen: Map[Int, Seq[String]] = byLen(
    snapshot.filter(_.startsWith("!")).map(_.stripPrefix("!")),
    Map(2 -> fallbackE2, 3 -> fallbackE3))
  // named views kept for the oracle generators / specs
  def publicSuffixes3: Seq[String] = exactByLen.getOrElse(3, Nil)
  def publicSuffixes2: Seq[String] = exactByLen.getOrElse(2, Nil)
  def wildcardBases1: Seq[String] = wildcardByLen.getOrElse(1, Nil)
  def wildcardBases2: Seq[String] = wildcardByLen.getOrElse(2, Nil)
  def exceptionHosts2: Seq[String] = exceptionByLen.getOrElse(2, Nil)
  def exceptionHosts3: Seq[String] = exceptionByLen.getOrElse(3, Nil)

  private val trackingParam = "^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$"

  /** Scheme, lowercased; a scheme-less URL (`example.com/x`, common in
    * crawl metadata) defaults to `http` so its canonical form is
    * well-formed AND collides with the explicit `http://` form of the
    * same page — the whole point of canonicalization.
    */
  private def schemeOf(noFrag: Column): Column = {
    val s = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    when(s === "", "http").otherwise(s)
  }

  private def restOf(noFrag: Column): Column =
    regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")

  /** Canonical host: lowercase, `www.`-stripped, port-stripped. */
  def hostOf(url: Column): Column = {
    val rest = restOf(regexp_replace(trim(url), "#.*$", ""))
    regexp_replace(
      regexp_replace(lower(regexp_extract(rest, "^([^/?]*)", 1)), ":\\d+$", ""),
      "^www\\.", "")
  }

  /** Full canonical URL per the 7 documented rules. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*$", "")
    val scheme = schemeOf(noFrag)
    val rest = restOf(noFrag)
    val hostPort = regexp_extract(rest, "^([^/?]*)", 1)
    val host = regexp_replace(
      regexp_replace(lower(hostPort), ":\\d+$", ""), "^www\\.", "")
    val port = regexp_extract(hostPort, ":(\\d+)$", 1)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val pathQ = regexp_replace(rest, "^[^/?]*", "")
    val path = regexp_extract(pathQ, "^([^?]*)", 1)
    val pathTrim = regexp_replace(path, "/+$", "")
    val pathNorm = when(pathTrim === "", "/").otherwise(pathTrim)
    val query = regexp_extract(pathQ, "\\?(.*)$", 1)
    val params = filter(split(query, "&"),
      p => length(p) > 0 && !p.rlike(trackingParam))
    val sortedQ = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      pathNorm,
      when(sortedQ =!= "", concat(lit("?"), sortedQ)).otherwise(lit("")))
  }

  /** Registrable domain (eTLD+1) per the PSL algorithm: exception
    * rules prevail (the suffix is the exception minus its leftmost
    * label, so `www.ck` is registrable under `*.ck`), then the longest
    * matching rule — exact suffixes and wildcard rules (`*.ck` puts
    * one arbitrary label inside the suffix) at their respective
    * lengths — then one more label. A host that IS a public suffix (or
    * has no extra label) passes through unchanged.
    */
  def registrableDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    // the suffix-length lookup is a NATIVE expression holding the rule
    // tables as JVM-shared hash sets (graft.plans.PslSuffixLenExpr) —
    // the former generated when-chain embedded the full ~9.5k-rule
    // snapshot as isin literals in every plan, and re-analyzing that
    // tree cost more than evaluating it (q_workflow_url 5.26 s vs its
    // 1.26 s pre-full-list floor, steal 0%). The DuckDB oracle still
    // replays the same algorithm from the same rule tables as generated
    // IN lists (TextQueries.urlCanonCtes) — one rule source, two forms.
    val sfxLen = GraftFunctions.pslSuffixLen(host)
    when(n <= sfxLen, host)
      .otherwise(concat_ws(".", slice(labels, n - sfxLen, sfxLen + 1)))
  }

  /** Exact URL dedup: one surviving row per CANONICAL url (first by
    * key) — the page-identity pass that runs before any text-level
    * dedup in a crawl pipeline (one page fetched through two tracking
    * links is one page). ONE `min_by` hash aggregation keyed by the
    * canonical form: O(1) state per canonical group, map-side partial
    * combine (a hyper-duplicated page pre-collapses inside each task
    * before the shuffle) — unlike the former row_number window, which
    * sorted every partition by (canonical, key) just to pick row 1.
    * With duplicate keys inside one canonical group the survivor among
    * the tied rows is arbitrary (keys are document ids — unique).
    */
  def urlDedup(df: DataFrame, urlCol: String, keyCol: String): DataFrame =
    graft.functions.Dedup.firstByKey(df,
      canonicalizeUrl(col(urlCol)).as("__canon"), keyCol)

  /** Per-domain document cap (the RefinedWeb/Gopher-style quota that
    * stops one hub domain from dominating the corpus): keep at most
    * `maxDocs` documents per registrable domain, chosen in the
    * deterministic salted-hash order (epoch-reproducible, partition-
    * invariant — the same md5 idiom as mixture sampling; ties break on
    * key). Hub-domain-safe: a `row_number().over(partitionBy(domain))`
    * quota would sort every domain's FULL partition — one hub domain at
    * 100 TB is an unsplittable multi-billion-row sort — so the quota
    * threshold comes from [[graft.plans.BoundedTopKLongAgg]] instead
    * (per-domain k-smallest-hash heap, O(maxDocs) state, map-side
    * partials also capped), and rows keep by comparing their hash to
    * the domain's threshold. The only window left ranks boundary TIES
    * within (domain, hash) — partitions sized by 60-bit-hash collision
    * multiplicity (≈1 for unique keys), never by domain size. The
    * domain-stats join is a plain equi-join: AQE can broadcast a small
    * stats frame or skew-split a hub domain, neither of which a window
    * sort allows. Keys are hashed via their canonical string form
    * (null renders as ""); duplicate keys tie-break arbitrarily within
    * their hash cell.
    */
  def capPerDomain(
      df: DataFrame,
      urlCol: String,
      keyCol: String,
      maxDocs: Int,
      salt: String = ""): DataFrame = {
    require(maxDocs > 0, "maxDocs must be positive")
    val h = GraftFunctions.saltedKeyHash(salt,
      coalesce(col(keyCol).cast("string"), lit("")))
    // null/unparseable-URL rows cap as ONE group: the quota join is a
    // plain (null-unsafe) equi-join, so a null __dom would never match
    // its stats row and the whole group would silently read as
    // under-quota — coalesce to a sentinel no real registrable domain
    // can collide with ("" is not a valid hostname character)
    val withH = df
      .withColumn("__dom",
        coalesce(registrableDomain(hostOf(col(urlCol))), lit("")))
      .withColumn("__h", h)
    // per-domain threshold: the maxDocs-th smallest hash (null = the
    // domain is under quota and keeps everything), plus the threshold's
    // multiplicity within the top-k (how many boundary rows may keep)
    val stats = withH.groupBy(col("__dom"))
      .agg(GraftFunctions.boundedTopKLong(col("__h"), maxDocs).as("__top"))
      .select(col("__dom"),
        when(size(col("__top")) < maxDocs, lit(null).cast("long"))
          .otherwise(element_at(col("__top"), -1)).as("__thr"),
        size(filter(col("__top"),
          x => x === element_at(col("__top"), -1))).as("__m"))
    val joined = withH.join(stats, Seq("__dom"), "left")
    // keep = under-quota domain, hash strictly under the threshold, or a
    // boundary tie ranked within its (domain, hash) cell. The only sort
    // in the plan is the tie window partitioned by (domain, HASH):
    // partitions are 60-bit-collision-multiplicity sized (≈1 for unique
    // keys) — never domain-sized, so a hub domain cannot pin a sort.
    // (A two-branch clear ∪ ties union avoids windowing the clear rows
    // but costs a second scan+join pass — measured strictly slower.)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__dom"), col("__h")).orderBy(col(keyCol).asc)
    joined
      .withColumn("__rn",
        when(col("__thr").isNotNull && col("__h") === col("__thr"),
          row_number().over(w)))
      .filter(col("__thr").isNull || col("__h") < col("__thr") ||
        (col("__h") === col("__thr") && col("__rn") <= col("__m")))
      .drop("__dom", "__h", "__thr", "__m", "__rn")
  }

  /** Per-domain curation rollup: document/host/token counts plus the
    * exact-duplicate rate (1 − distinct fingerprints / docs) — the
    * numbers a per-domain cap or dup-rate cut keys on. Map-only
    * canonicalization into ONE hash-groupBy (count_distinct partials
    * combine map-side); output is domain-cardinality-sized.
    */
  def domainRollup(df: DataFrame, urlCol: String, textCol: String): DataFrame = {
    val host = hostOf(col(urlCol))
    Dedup.widenForCompute(df)
      .select(registrableDomain(host).as("domain"), host.as("host"),
        TextOps.tokenCount(col(textCol)).as("__nt"),
        TextOps.fingerprint(col(textCol)).as("__fp"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        sum(col("__nt")).as("n_tokens"),
        countDistinct(col("__fp")).as("n_unique"),
        round((count(lit(1)) - countDistinct(col("__fp"))).cast("double") /
          count(lit(1)).cast("double"), 4).as("dup_rate"))
  }
}
