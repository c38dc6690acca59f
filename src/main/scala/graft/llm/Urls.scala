package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL canonicalization and host-level corpus shaping — the
  * CommonCrawl-side steps of a web-scale curation pipeline (C4/CCNet
  * lineage): the same page is crawled under scheme/case/port/tracking
  * variants, and a handful of giant hosts can dominate a naive crawl,
  * so pipelines canonicalize URLs, dedup on the canonical form, and
  * cap documents per host for domain diversity.
  *
  * The canonical form is pinned (documented deviation-free rules so
  * the DuckDB oracle replays them verbatim):
  *   1. scheme and host lowercased; path/query case preserved;
  *   2. a leading `www.` and a trailing `.` dropped from the host;
  *   3. default ports stripped (`:80` for http, `:443` for https);
  *   4. the fragment (`#…`) dropped;
  *   5. tracking params removed — any `utm_*`, `gclid`, `fbclid`,
  *      `ref` — preserving the order of the survivors; an emptied
  *      query drops its `?`.
  * Inputs that don't parse as `scheme://authority…` pass through
  * with a null host (kept, not dropped — classification is the
  * caller's policy decision).
  *
  * Scale shape: canonicalization is a shuffle-free projection (regex
  * + array ops inside codegen — at 100 TB it rides the scan). Dedup
  * shuffles once on the canonical URL, the cap once on the host —
  * the natural keys. Honest skew note: hosts are Zipfian, so any
  * per-host rank window concentrates the biggest host in one task;
  * [[hostCap]] therefore pre-aggregates per-host counts (partial-agg,
  * skew-immune), only considers hosts that EXCEED the cap — under-cap
  * hosts (the overwhelming majority of a web corpus) pass straight
  * through — and picks each over-cap host's survivors with a
  * k-BOUNDED partial aggregation instead of a window, so even the
  * head host's shuffle volume is capped at maxPerHost ids per map
  * partition.
  */
object Urls {

  private val UrlRe = "^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^#]*).*$"

  private def isTracking(p: Column): Column =
    p.startsWith("utm_") || p.startsWith("gclid=") || p.startsWith("fbclid=") ||
      p.startsWith("ref=") || p === "gclid" || p === "fbclid" || p === "ref"

  /** Adds `canonical_url` and `host` (null host when the value does
    * not parse as a URL; `canonical_url` then falls back to the raw
    * trimmed input). */
  def canonicalize(df: DataFrame, urlCol: String): DataFrame = {
    val raw = trim(col(urlCol))
    val scheme = lower(regexp_extract(raw, UrlRe, 1))
    val auth = lower(regexp_extract(raw, UrlRe, 2))
    val tail = regexp_extract(raw, UrlRe, 3) // path + query, no fragment
    // host:port split (the port is digits after the last ':')
    val port = regexp_extract(auth, "^.*:([0-9]+)$", 1)
    val hostRaw = regexp_replace(auth, ":[0-9]+$", "")
    val host = regexp_replace(regexp_replace(hostRaw, "\\.$", ""), "^www\\.", "")
    val keepPort = port =!= "" &&
      !((scheme === "http" && port === "80") || (scheme === "https" && port === "443"))
    val path = regexp_extract(tail, "^([^?]*).*$", 1)
    val query = regexp_extract(tail, "^[^?]*\\?(.*)$", 1)
    val kept = filter(split(query, "&"), p => !isTracking(p) && p =!= "")
    val canon = concat(
      scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(query =!= "" && size(kept) > 0,
        concat(lit("?"), array_join(kept, "&"))).otherwise(lit("")))
    df.withColumn("host", when(scheme =!= "" && auth =!= "", host))
      .withColumn("canonical_url",
        when(scheme =!= "" && auth =!= "", canon).otherwise(raw))
  }

  /** One row per canonical URL: the survivor with the smallest
    * `idCol` (deterministic first-crawl-wins; `idCol` must be non-null
    * and unique per canonical URL — the same premise [[hostCap]]
    * rests on). One shuffle, keyed on the canonical URL, with O(1)
    * aggregation state per key: first-crawl-wins is a `min_by` partial
    * aggregate (each map task keeps ONE candidate row per URL), so a
    * hotlinked/mirrored canonical URL with millions of crawls — the
    * same Zipf head [[hostCap]] guards against one level up — never
    * lands all its rows on a single rank-window task. */
  def dedupByUrl(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    firstPerUrl(canonicalize(df, urlCol), idCol)

  /** The min_by survivor pick over an already-canonicalized relation —
    * shared by [[dedupByUrl]] and [[dedupByUrlIncremental]]. */
  private def firstPerUrl(c: DataFrame, idCol: String): DataFrame = {
    val rest = c.columns.filter(_ != "canonical_url")
    c.groupBy(col("canonical_url"))
      .agg(min_by(struct(rest.map(col): _*), col(idCol)).as("__r"))
      // restore the canonicalize() output order (id cols …, host,
      // canonical_url) — the group key moves first in the agg output
      .select(c.columns.map(n =>
        if (n == "canonical_url") col(n) else col(s"__r.$n").as(n)): _*)
  }

  /** The AT-REST crawl-hygiene state builders: the distinct canonical
    * URLs seen so far (for [[dedupByUrlIncremental]]) and the per-host
    * TOTAL document counts (for [[hostCapIncremental]] — counts of
    * docs SEEN, not kept: the cap ranks by id over everything seen).
    * Write both once (bucketed by their key) and update them with each
    * increment's rows. */
  def seenUrls(df: DataFrame, urlCol: String): DataFrame =
    canonicalize(df, urlCol).select(col("canonical_url")).distinct()

  def hostSeenCounts(df: DataFrame, urlCol: String): DataFrame =
    canonicalize(df, urlCol).filter(col("host").isNotNull)
      .groupBy(col("host")).agg(count(lit(1)).as("n_seen"))

  /** The at-rest max-id watermark (one row, `max_id` BIGINT; null on
    * an empty corpus) — the third crawl-hygiene state table: the
    * incremental arms' MONOTONE-ID contract (every new id exceeds
    * every old id) is what makes first-crawl-wins and
    * earliest-fills-first exact without re-reading the old crawl, and
    * this is the watermark that turns a violating BACKFILL batch from
    * a silently wrong answer into an error. Advance it with
    * `unionByName` + a max re-aggregate, like the other state tables. */
  def idWatermark(df: DataFrame, idCol: String): DataFrame =
    df.agg(max(col(idCol).cast("long")).as("max_id"))

  /** Fail-fast monotone-id guard: passes `df` through unchanged but
    * raises (at scan time, wherever the first violating row is) when
    * any id fails to exceed the [[idWatermark]] — the check rides the
    * increment scan as a broadcast of the 1-row watermark plus one
    * codegen'd comparison per row: zero shuffles, zero extra actions,
    * and chained lazy steps stay lazy. A null watermark (empty
    * at-rest corpus) admits everything. */
  private[graft] def requireMonotone(
      df: DataFrame, idCol: String, watermark: DataFrame, op: String): DataFrame =
    df.crossJoin(broadcast(watermark.select(col("max_id").as("__wm"))))
      .filter(assert_true(
        coalesce(col(idCol).cast("long") > col("__wm"), lit(true)),
        concat(lit(s"$op: monotone-id contract violated — batch id "),
          col(idCol).cast("string"),
          lit(" <= at-rest max-id watermark "), col("__wm").cast("string"),
          lit(" (a backfill batch: run the batch path, or rebuild the" +
            " at-rest state from the full corpus)"))).isNull)
      .select(df.columns.map(col): _*)

  /** INCREMENTAL first-crawl-wins URL dedup: the survivors a NEW crawl
    * batch contributes, against the at-rest [[seenUrls]] set —
    * bit-identical to [[dedupByUrl]] over old ∪ new restricted to new
    * ids, WITHOUT re-reading the old crawl, UNDER the monotone-id
    * contract (every new id exceeds every old id — crawl ids are
    * arrival-ordered, so an already-seen URL's survivor can never be
    * displaced by a later crawl). One anti-join keyed on the canonical
    * URL (bucket the at-rest set by it) + the same min_by pick within
    * the batch.
    *
    * `watermark` (an [[idWatermark]] table; default-on in the composed
    * [[graft.api.IncrementalCuration]] journey) makes the contract
    * fail-fast: a backfill batch raises instead of silently keeping
    * old survivors that the batch run would displace. `None` trusts
    * the caller (the pre-watermark behavior). */
  def dedupByUrlIncremental(
      newDf: DataFrame,
      idCol: String,
      urlCol: String,
      seen: DataFrame,
      watermark: Option[DataFrame] = None): DataFrame = {
    val guarded = watermark
      .map(w => requireMonotone(newDf, idCol, w, "dedupByUrlIncremental"))
      .getOrElse(newDf)
    val c = canonicalize(guarded, urlCol)
    val unseen = c.join(seen.toDF("canonical_url"), Seq("canonical_url"), "left_anti")
      .select(c.columns.map(col): _*)
    firstPerUrl(unseen, idCol)
  }

  /** INCREMENTAL per-host cap: which docs of a NEW crawl batch survive
    * `maxPerHost`, given the at-rest [[hostSeenCounts]] of the
    * accumulated crawl — bit-identical to [[hostCap]] over old ∪ new
    * restricted to new ids UNDER the monotone-id contract (smallest-id
    * survivors = earliest-crawled, so accumulated hosts only ever fill
    * up). Scale shape mirrors [[hostCap]]: the batch aggregates ONE
    * k-bounded partial groupBy (≤ cap candidate ids per host per map
    * task); hosts with headroom for the whole batch contribution pass
    * through a broadcast anti-join; only boundary hosts' survivors
    * come back via the broadcast keep-list. The at-rest counts join
    * is keyed on host against the increment-sized aggregate — never
    * against the crawl-sized relation. Null-host rows pass through.
    *
    * `watermark`: same fail-fast contract guard as
    * [[dedupByUrlIncremental]] — a batch with any id at or below the
    * at-rest [[idWatermark]] raises instead of silently mis-filling
    * host capacity. */
  def hostCapIncremental(
      newDf: DataFrame,
      idCol: String,
      urlCol: String,
      maxPerHost: Int,
      counts: DataFrame,
      watermark: Option[DataFrame] = None): DataFrame = {
    require(maxPerHost >= 1, s"maxPerHost must be >= 1, got $maxPerHost")
    require(Similarity.isIntegralId(newDf.schema(idCol).dataType),
      s"hostCapIncremental needs an integral id column, got $idCol")
    val guarded = watermark
      .map(w => requireMonotone(newDf, idCol, w, "hostCapIncremental"))
      .getOrElse(newDf)
    val c = canonicalize(guarded, urlCol)
    val batchAgg = c.filter(col("host").isNotNull)
      .groupBy(col("host"))
      .agg(count(lit(1)).as("__bn"),
        graft.functions.BoundedTopK
          .smallestLongs(maxPerHost, col(idCol).cast("long")).as("__keep"))
      .join(counts.toDF("host", "__seen"), Seq("host"), "left")
      .withColumn("__headroom",
        greatest(lit(maxPerHost).cast("long") - coalesce(col("__seen"), lit(0L)), lit(0L)))
    // hosts whose whole batch contribution fits the headroom pass
    // through untouched (the overwhelming majority of a crawl)
    val boundary = batchAgg.filter(col("__bn") > col("__headroom"))
    val keepIds = boundary
      .select(col("host").as("__kh"), col("__headroom"),
        posexplode(col("__keep")).as(Seq("__pos", "__kid")))
      .filter(col("__pos") < col("__headroom"))
      .select(col("__kh"), col("__kid"))
    val under = c.join(broadcast(boundary.select(col("host"))), Seq("host"), "left_anti")
    val capped = c.join(broadcast(keepIds),
      col("host") === col("__kh") && col(idCol).cast("long") === col("__kid"),
      "left_semi")
    under.unionByName(capped)
  }

  /** Keeps at most `maxPerHost` documents per host (smallest-id
    * survivors); null-host rows pass through untouched. Skew-SAFE,
    * not just skew-aware: per-host counts are a partial-aggregable
    * groupBy that ALSO carries each host's `maxPerHost` smallest ids
    * in a k-bounded buffer ([[graft.functions.BoundedTopK]]): each map
    * task keeps at most cap ids per host, so the Zipf-head host
    * shuffles ≤ cap·partitions id rows instead of landing ALL its rows
    * on one rank-window task — the single-task cliff a
    * 10%-of-the-crawl host used to be. The resulting keep-list is
    * cap-BOUNDED (≤ maxPerHost rows per over-cap host — a Zipf-head
    * set, megabytes at crawl scale), so survivors come back via a
    * BROADCAST (host, id) semi-join and the crawl-sized side never
    * shuffles at all.
    *
    * Contract: `idCol` must be integral (it rides the keep-list as
    * BIGINT), non-null, and unique per host — the same
    * deterministic-survivor premise [[dedupByUrl]] rests on.
    * `nativeCap = false` keeps the per-host rank-window arm (the A/B
    * shape the Zipf-head soak measures against — the single-task
    * cliff). Returns the capped table. */
  def hostCap(
      df: DataFrame,
      idCol: String,
      urlCol: String,
      maxPerHost: Int,
      nativeCap: Boolean = true): DataFrame = {
    require(maxPerHost >= 1, s"maxPerHost must be >= 1, got $maxPerHost")
    val idType = df.schema(idCol).dataType
    // type check on the DataType itself (simpleString says "tinyint"/
    // "smallint" for byte/short — a literal list misses them)
    require(Similarity.isIntegralId(idType),
      s"hostCap needs an integral id column, got $idCol: ${idType.simpleString}")
    val c = canonicalize(df, urlCol)
    if (nativeCap) {
      // ONE partial-aggregable groupBy computes both the over-cap
      // filter and each over-cap host's survivor ids (map-side state ≤
      // cap ids per host per partition). The keep-list is then
      // cap-bounded — ≤ maxPerHost rows PER over-cap host, a tiny
      // Zipf-head set — so the survivor semi-join broadcasts it and
      // the crawl-sized side never shuffles at all; under-cap hosts
      // pass through the broadcast anti-join as before.
      val overAgg = c.filter(col("host").isNotNull)
        .groupBy(col("host"))
        .agg(count(lit(1)).as("__n"),
          graft.functions.BoundedTopK
            .smallestLongs(maxPerHost, col(idCol).cast("long")).as("__keep"))
        .filter(col("__n") > maxPerHost)
      val keepIds = overAgg
        .select(col("host").as("__kh"), explode(col("__keep")).as("__kid"))
      val under = c.join(broadcast(overAgg.select(col("host"))), Seq("host"), "left_anti")
      val capped = c.join(broadcast(keepIds),
        col("host") === col("__kh") && col(idCol).cast("long") === col("__kid"),
        "left_semi")
      under.unionByName(capped)
    } else {
      val over = c.filter(col("host").isNotNull)
        .groupBy(col("host")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxPerHost)
        .select(col("host"))
      val flagged = c.join(broadcast(over), Seq("host"), "left_semi")
      val under = c.join(broadcast(over), Seq("host"), "left_anti")
      val w = Window.partitionBy(col("host")).orderBy(col(idCol).asc)
      val capped = flagged.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= maxPerHost).drop("__rn")
      under.unionByName(capped)
    }
  }

  /** Per-host diversity telemetry: document count, docs kept under
    * `maxPerHost`, and the host's corpus share — the report a crawl
    * operator reads before choosing the cap. Pure partial-aggregable
    * groupBys. */
  def hostStats(df: DataFrame, idCol: String, urlCol: String, maxPerHost: Int): DataFrame = {
    require(maxPerHost >= 1, s"maxPerHost must be >= 1, got $maxPerHost")
    val c = canonicalize(df, urlCol).filter(col("host").isNotNull)
    val perHost = c.groupBy(col("host")).agg(count(lit(1)).as("n_docs"))
    val total = perHost.agg(sum(col("n_docs")).as("__total")) // 1 row → broadcasts
    perHost.crossJoin(broadcast(total))
      .select(col("host"), col("n_docs"),
        least(col("n_docs"), lit(maxPerHost.toLong)).as("n_kept"),
        round((col("n_docs") / col("__total").cast("double")).cast("decimal(20,9)"), 6)
          .cast("double").as("corpus_share"))
  }
}
