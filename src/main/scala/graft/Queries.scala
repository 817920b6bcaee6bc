package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators._
import graft.functions.TextAnalysis

/** The operator catalog behind [[SparkEntry]]: one named query per
  * SURVEY.md §2 inventory row, each paired (where SQL-expressible) with a
  * DuckDB oracle in [[Oracles]].
  *
  * Float discipline: every oracle-compared aggregate is either an exact
  * decimal sum cast to double at the end (order-independent, engine-
  * portable) or a pure arithmetic derivation of exact inputs — never a
  * raw double accumulation whose value depends on partial-agg order.
  */
object Queries {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private val langMarkers = Map(
    "en" -> Seq("the", "a", "fast", "slow"),
    "de" -> Seq("table", "scan", "row"),
    "es" -> Seq("data", "query", "value"),
    "zh" -> Seq("spark", "join", "merge"))

  private def dec(c: Column): Column = c.cast("decimal(18,4)")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** q146-q148 URL-synthesis constants, shared with [[Oracles]] so the
    * Spark plan and the DuckDB replay derive domains from one source of
    * truth (the q141 md5-synthesis style: `documents` carries no URL
    * column, so the family derives deterministic crawl-ish URLs from
    * doc_id+source — scheme/www/case/port/tracking/fragment variants that
    * exercise every canonicalization rule).
    */
  private[graft] val urlTlds = Seq("com", "org", "io", "co.uk", "com.au",
    "github.io", "blogspot.com", "s3.amazonaws.com")
  private[graft] def urlSld(idx: Int): String =
    "site" + md5hex("dom" + idx).substring(0, 6)
  /** The blocklist literals for q147: domain indexes 0 (a .com) and 3 (a
    * .co.uk — the gate must hit multi-label registered domains too).
    */
  private[graft] val urlBlockedDomains: Seq[String] =
    Seq(0, 3).map(i => urlSld(i) + "." + urlTlds(i % urlTlds.length))

  /** Deterministic URL from (doc_id, source) — 23 registered domains
    * (incl. private-registry sites: github.io / blogspot.com /
    * s3.amazonaws.com suffixes) × {www, news., CDN.} hosts ×
    * case/port/path/query/fragment/percent-escape variants; replayed
    * verbatim by the oracle CTEs. Pure codegen projection.
    */
  private[graft] def synthUrl(d: Column, source: Column): Column = {
    val di = pmod(d, lit(23))
    val h8 = substring(md5(d.cast("string")), 1, 8)
    val sld = concat(lit("site"),
      substring(md5(concat(lit("dom"), di.cast("string"))), 1, 6))
    val tld = element_at(array(urlTlds.map(lit): _*),
      (pmod(di, lit(urlTlds.length)) + 1).cast("int"))
    val hostraw = concat(
      when(pmod(d, lit(2)) === 0, lit("www.")).otherwise(lit("")),
      when(pmod(d, lit(7)) === 0, lit("news."))
        .when(pmod(d, lit(7)) === 1, lit("CDN.")).otherwise(lit("")),
      sld, lit("."), tld)
    concat(
      when(pmod(d, lit(3)) === 0, lit("HTTP")).otherwise(lit("https")),
      lit("://"),
      when(pmod(d, lit(8)) === 0, upper(hostraw)).otherwise(hostraw),
      // %11 rows carry the scheme's DEFAULT port (canon must strip it);
      // %13 rows carry :8080 (canon must keep it); %143 rows take the
      // first branch — mirrored by the oracle's CASE order
      when(pmod(d, lit(11)) === 0,
          when(pmod(d, lit(3)) === 0, lit(":80")).otherwise(lit(":443")))
        .when(pmod(d, lit(13)) === 0, lit(":8080")).otherwise(lit("")),
      when(pmod(d, lit(9)) === 0, lit(""))
        .otherwise(concat(lit("/"), source, lit("/"), h8)),
      // percent-escape path variants: %10==7 decodes (unreserved ~),
      // %10==3 uppercases reserved escapes (%2f → %2F, %3A kept)
      when(pmod(d, lit(10)) === 7, lit("/%7edoc"))
        .when(pmod(d, lit(10)) === 3, lit("/f%2fx%3A1"))
        .otherwise(lit("")),
      when(pmod(d, lit(4)) === 0,
          concat(lit("?utm_source=feed&id="), pmod(d, lit(50)).cast("string"),
            lit("&utm_campaign=x")))
        .when(pmod(d, lit(4)) === 1,
          concat(lit("?id="), pmod(d, lit(50)).cast("string"), lit("&gclid=CjK")))
        .when(pmod(d, lit(4)) === 2, lit("?utm_medium=em"))
        .otherwise(lit("")),
      when(pmod(d, lit(6)) === 0, lit("#section-2")).otherwise(lit("")))
  }

  /** q152 HTML-synthesis fragments, shared VERBATIM with [[Oracles]] (the
    * synthUrl pattern): boilerplate blocks every real page carries — a
    * link-dense nav, an optional link box, a link-heavy footer — around
    * the document's text as the main content block. No single quotes (the
    * fragments interpolate into the oracle's SQL string literals).
    */
  private[graft] val htmlNav =
    """<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>"""
  private[graft] val htmlLinkBox =
    """<div><a href="/x">More stories</a> <a href="/y">Top links</a> <a href="/z">Archive</a></div>"""
  private[graft] val htmlFooter =
    """<footer>Copyright <a href="/tos">Terms</a> <a href="/priv">Privacy</a> <a href="/c">Cookies</a></footer>"""
  private[graft] val htmlRelatedPre = "<p>Related reading follows the "
  private[graft] val htmlRelatedPost =
    """ line with a <a href="/r">reference link</a> included for context.</p>"""

  /** Deterministic crawl-ish HTML page from (doc_id, text, source):
    * heading + nav + main-content paragraph (the document text) +
    * mod-gated short note / link box / linked-but-content paragraph +
    * footer. Replayed verbatim by the q152 oracle CTE. Pure codegen
    * projection.
    */
  private[graft] def synthHtml(d: Column, text: Column, source: Column): Column =
    concat(
      lit("<h1>Doc "), d.cast("string"), lit(" overview</h1>"),
      lit(htmlNav),
      lit("<p>"), trim(text), lit("</p>"),
      when(pmod(d, lit(3)) === 0, lit("<p>Short note.</p>")).otherwise(lit("")),
      when(pmod(d, lit(4)) === 1, lit(htmlLinkBox)).otherwise(lit("")),
      when(pmod(d, lit(5)) === 2,
        concat(lit(htmlRelatedPre), source, lit(htmlRelatedPost)))
        .otherwise(lit("")),
      lit(htmlFooter))

  /** The q178 composed curation chain, split at its single
    * materialization point so CurationChainSpec can pin the one-scan
    * contract on each half.
    *
    * Stages (the crawl pipeline's published order, each individually
    * oracled elsewhere, here composed as ONE run):
    *   1. URL front door (q146/q147): registered domain from the
    *      synthesized URL, plan-constant blocklist gate;
    *   2. HTML main-content extraction (q152) over the synthesized page;
    *   3. unicode front door (q155): zero-width/BOM injected by formula
    *      on %7==3 docs and STRIPPED — if the normalizer failed, every
    *      downstream dedup group, word count and token budget would
    *      shift and the oracle hash would catch it;
    *   4. langid gate (q24 markers): keep en/und;
    *   — `Iterative.cut` — stages 1-4 are row-level projections/filters,
    *      ONE corpus scan total; the materialized frame feeds every
    *      join below, so no stage rescans the corpus —
    *   5. gopher quality gate (q79 rules, keep = 1, semi-join);
    *   6. corpus-wide exact dedup (q21 keep-min per clean text);
    *   7. near-dup gate (q26 7-gram jaccard ≥ 0.5 → the LARGER id of
    *      every pair drops);
    *   8. token-budget mix per source (q52 rule, 1500 tokens).
    * Output: one row per published doc (doc_id, source, domain,
    * lang_pred, n_tok).
    */
  private[graft] def curationChainStages(s: SparkSession,
                                         d: String): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val st1 = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"),
        TextAnalysis.registeredDomain(
          synthUrl(col("doc_id"), col("source"))).as("domain"))
      .filter(!TextAnalysis.domainBlocked(col("domain"), urlBlockedDomains))
    val st2 = st1.withColumn("clean0",
      TextAnalysis.htmlMainText(synthHtml(col("doc_id"), col("text"), col("source"))))
    val st3 = st2
      .withColumn("clean_text",
        TextAnalysis.normalizeUnicode(
          concat(when(pmod(col("doc_id"), lit(7)) === 3, lit("\u200B\uFEFF"))
            .otherwise(lit("")), col("clean0")))
          .getField("clean_text"))
      .drop("clean0", "text")
    val st4 = st3
      .withColumn("lang_pred", TextAnalysis.langIdFast(col("clean_text"), langMarkers))
      .filter(col("lang_pred").isin("en", "und"))
    val staged = graft.plans.Iterative.cut(st4)
    val gKeep = Quality.gopherFilter(staged, "doc_id", "clean_text", stopwords,
        minWords = 30, maxWords = 90, minMeanLen = 3.0, maxMeanLen = 5.0,
        maxSymbolRatio = 0.1, minStopRatio = 0.02)
      .filter(col("keep") === 1).select("doc_id")
    val st5 = staged.join(gKeep, Seq("doc_id"), "left_semi")
    val st6 = Dedup.dedupExactRows(st5, Seq("clean_text"), "doc_id")
    val losers = NearDup.ngramJaccardPairs(st6, "doc_id", "clean_text", 7, 0.5)
      .select(col("id_b").as("doc_id")).distinct()
    val st7 = st6.join(losers, Seq("doc_id"), "left_anti")
    val st8 = Sampling.tokenBudgetPerStratum(
      st7.withColumn("n_tok",
        TextAnalysis.tokenCountWs(col("clean_text")).cast("long")),
      col("source"), Seq(col("doc_id")), col("n_tok"), budget = 1500L)
    (st4, st8.select(col("doc_id").cast("long").as("doc_id"), col("source"),
      col("domain"), col("lang_pred"), col("n_tok")))
  }

  /** q153 multilingual-synthesis vocab (16 common words per language,
    * lowercase, quote-free — they interpolate into the oracle's SQL),
    * keyed in the SAME ascending language order as
    * [[graft.operators.LangId.default]]. Deliberately includes romance-
    * language overlaps (tempo/sobre/amigos…) so the probe measures a
    * REAL confusable space, not a toy one.
    */
  private[graft] val langIdVocab: Seq[(String, Seq[String])] = Seq(
    "ar" -> Seq("الثعلب", "البني", "السريع", "يقفز", "فوق", "الكلب",
      "الكسول", "يذهبون", "المدرسة", "الصباح", "أصدقائهم", "الحافلة",
      "الطقس", "الخبز", "الجبن", "المدينة"),
    "de" -> Seq("und", "der", "nicht", "mit", "haben", "werden", "schön",
      "über", "immer", "heute", "freunde", "schule", "wetter", "zwischen",
      "vielleicht", "morgen"),
    "el" -> Seq("αλεπού", "πηδάει", "πάνω", "σκυλί", "παιδιά", "σχολείο",
      "πρωί", "φίλους", "λεωφορείο", "καιρός", "όμορφος", "ψωμί", "τυρί",
      "πόλη", "θέλουν", "επειδή"),
    "en" -> Seq("and", "the", "not", "with", "have", "will", "lovely",
      "over", "always", "today", "friends", "school", "weather", "between",
      "perhaps", "morning"),
    "es" -> Seq("y", "el", "no", "con", "tener", "siempre", "hermoso",
      "sobre", "ciudad", "hoy", "amigos", "escuela", "tiempo", "entre",
      "quizás", "mañana"),
    "fr" -> Seq("et", "le", "pas", "avec", "avoir", "toujours", "magnifique",
      "sur", "ville", "jamais", "amis", "école", "temps", "entre",
      "beaucoup", "matin"),
    "hi" -> Seq("लोमड़ी", "आलसी", "कुत्ते", "ऊपर", "बच्चे", "सुबह", "दोस्तों",
      "स्कूल", "क्योंकि", "इंतज़ार", "हमेशा", "मौसम", "सुंदर", "शहर", "रोटी",
      "पनीर"),
    "it" -> Seq("e", "il", "non", "con", "avere", "sempre", "bellissimo",
      "sopra", "città", "oggi", "amici", "scuola", "tempo", "fra",
      "forse", "mattina"),
    "ja" -> Seq("すばやい", "茶色", "きつね", "なまけもの", "子どもたち", "いつも",
      "おくれる", "バス", "けさ", "友だち", "学校", "天気", "パン", "チーズ",
      "町", "ゆっくり"),
    "ko" -> Seq("빠른", "갈색", "여우가", "게으른", "개를", "아이들은", "늦게",
      "버스를", "아침", "친구들과", "학교에", "날씨가", "도시가", "천천히",
      "빵과", "치즈를"),
    "nl" -> Seq("en", "de", "niet", "met", "hebben", "zullen", "prachtig",
      "over", "altijd", "vandaag", "vrienden", "school", "weer", "tussen",
      "misschien", "morgen"),
    "pt" -> Seq("e", "o", "não", "com", "ter", "sempre", "lindo", "sobre",
      "cidade", "hoje", "amigos", "escola", "tempo", "entre", "talvez",
      "manhã"),
    "ru" -> Seq("быстрая", "лиса", "прыгает", "через", "собаку", "дети",
      "утром", "школу", "друзьями", "автобус", "всегда", "погода", "хлеб",
      "сыром", "город", "медленно"),
    "sv" -> Seq("och", "den", "inte", "med", "hava", "skall", "vackert",
      "över", "alltid", "idag", "vänner", "skola", "väder", "mellan",
      "kanske", "morgon"),
    "zh" -> Seq("敏捷", "棕色", "狐狸", "跳过", "孩子们", "今天", "早上", "朋友",
      "一起", "学校", "因为", "公共汽车", "天气", "面包", "奶酪", "城市"))

  /** Deterministic multilingual text from doc_id: language = doc_id mod
    * |langs|, 12 words drawn from that language's [[langIdVocab]] row by
    * md5-derived indexes — replayed verbatim by the q153 oracle. Returns
    * (lang_true, text). Pure codegen projection.
    */
  private[graft] def synthMultilingual(d: Column): (Column, Column) = {
    val langs = langIdVocab.map(_._1)
    val li = (pmod(d, lit(langs.length)) + 1).cast("int")
    val langTrue = element_at(array(langs.map(lit): _*), li)
    val vocabArr = array(langIdVocab.map { case (_, ws) =>
      array(ws.map(lit): _*)
    }: _*)
    val words = (0 until 12).map { j =>
      val idx = (conv(substring(md5(concat(d.cast("string"), lit(":" + j))),
        1, 8), 16, 10).cast("long") % 16 + 1).cast("int")
      element_at(element_at(vocabArr, li), idx)
    }
    (langTrue, concat_ws(" ", words: _*))
  }

  /** q154 boilerplate segments, shared with [[Oracles]]: `documents`
    * text is unique prose, so the dup-span family sews deterministic
    * shared boilerplate AROUND it — a header on even doc_ids, one of
    * three promo blocks by doc_id%3, a footer on every doc. Grams inside
    * a shared segment duplicate across the docs that share it; grams
    * crossing promo→footer duplicate across each mod-3 class, so those
    * two segments MERGE into one span (the interval-merge witness),
    * while header grams stay a separate span (the header→unique-text
    * boundary never duplicates).
    */
  private[graft] val dupSpanHeader: String =
    "subscribe to our weekly newsletter for updates and exclusive member offers today"
  private[graft] val dupSpanPromos: Seq[String] = Seq(
    "limited time offer save twenty percent on all premium plans this season only",
    "download our free mobile app to keep your library in sync across devices",
    "join the community forum to discuss tips tricks and recommended best practices")
  private[graft] val dupSpanFooter: String =
    "all rights reserved terms of service privacy policy and contact support team"

  /** Deterministic dup-span synthesis from (doc_id, text) — replayed
    * verbatim by the q154 oracle's concat_ws/CASE SQL.
    */
  private[graft] def synthDupSpanText(d: Column, text: Column): Column =
    concat_ws(" ",
      filter(array(
        when(pmod(d, lit(2)) === 0, lit(dupSpanHeader)).otherwise(lit("")),
        trim(text),
        element_at(array(dupSpanPromos.map(lit): _*),
          (pmod(d, lit(3)) + 1).cast("int")),
        lit(dupSpanFooter)), s => length(s) > 0))

  /** q155 unicode-mess synthesis, shared with [[Oracles]]: inject a
    * DECOMPOSED accented word (base letter + combining mark — NFC
    * composes it), zero-width/BOM characters on even doc_ids, and
    * control characters on doc_id%3==1, all BMP so Spark/DuckDB char
    * counts agree. Every piece is replayed in the oracle via chr()
    * concatenation.
    */
  private[graft] def synthMessyText(d: Column, text: Column): Column = {
    // base letter + combining mark, NFC-composable: e+U+0301, o+U+0308,
    // a+U+030A — written as escapes so the source stays visible; the
    // mod-4==3 branch is plain ASCII so nfc_changed varies per row
    val decomposed = element_at(
      array(lit("cafe\u0301"), lit("scho\u0308n"),
        lit("sma\u030Aland"), lit("garcon")),
      (pmod(d, lit(4)) + 1).cast("int"))
    concat(
      when(pmod(d, lit(2)) === 0, lit("\u200B\uFEFF")).otherwise(lit("")),
      decomposed, lit(" "),
      when(pmod(d, lit(3)) === 1, lit("\u0007\u001B")).otherwise(lit("")),
      trim(text),
      when(pmod(d, lit(2)) === 0, lit("\u200D")).otherwise(lit("")))
  }

  /** q160/q161 corpus synthesis: every token truncated to 8 code points
    * — NOT an operator constraint (the driver DP handles any length) but
    * the bound that lets the DuckDB oracle UNROLL its exact-integer
    * Viterbi to a fixed depth. NULL text stays NULL; blank text stays
    * blank (split of '' is [''] whose 8-cp cut is '' — the operator's
    * blank guard excludes it either way, same as the oracle's filter).
    */
  private[graft] def synthUnigramDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("text").isNull, lit(null).cast("string"))
        .otherwise(array_join(transform(
          split(lower(trim(col("text"))), "\\s+"),
          t => substring(t, 1, 8)), " ")).as("text"))

  /** q156 skewed-key synthesis, shared with [[Oracles]]: 80% of events
    * hash onto 8 hot keys (1000 rows each at sf0.01 — provably above the
    * Misra–Gries undetected-key bound), the rest get per-event cold keys
    * (a 2000-key tail the exact confirm must never shuffle).
    */
  private[graft] def synthSkewKey(eid: Column): Column =
    when(pmod(eid, lit(5)) < 4,
      concat(lit("hot_"), pmod(eid, lit(8)).cast("string")))
      .otherwise(concat(lit("cold_"), eid.cast("string")))

  /** q47's rule list — shared with the oracle generator so the Spark plan
    * and the DuckDB LIKE-chain are compiled from the same source of truth.
    * Rule 3 overlaps rule 2 on purpose ("large rod" rows match both):
    * last-match-wins precedence is part of the verified contract.
    */
  val q47Rules: Seq[FuzzyRecode.Rule] = Seq(
    FuzzyRecode.Rule(Seq("widget", "widgt", "wdget"), "WID", "Widget"),
    FuzzyRecode.Rule(Seq("rod"), "ROD", "Rod"),
    FuzzyRecode.Rule(Seq("large rod"), "LROD", "Large rod"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── reference surface ────────────────────────────────────────────────
    "q01_agg_summary" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      l.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        count(lit(1)).as("count_rows"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"))
        .withColumn("avg_qty", col("sum_qty") / col("count_rows"))
    }),

    "q02_dedup_keep_latest" -> ((s, d) =>
      Dedup.keepLatest(Tables.events(s, d), Seq("user_id"), col("ts"), col("event_id"))),

    "q03_join_enrich" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"), col("r_name"))
        .agg(count(lit(1)).as("num_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total_revenue"))
    }),

    "q04_anti_join" -> ((s, d) =>
      Joins.unmatched(Tables.customer(s, d), Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), broadcastRight = false)
        .select("c_custkey", "c_name", "c_mktsegment")),

    "q05_semi_join" -> ((s, d) =>
      Joins.existing(Tables.customer(s, d),
          Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), broadcastRight = false)
        .select("c_custkey", "c_acctbal")),

    "q06_union_views" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val segA = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val segB = c.filter(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      Unions.taggedUnion(Seq("segA" -> segA, "segB" -> segB))
    }),

    "q07_kv_pivot" -> ((s, d) =>
      Pivot.toWideConditional(Tables.events(s, d), Seq("user_id"), "event_type",
        Seq("click", "view", "purchase", "signup", "error"), lit(1L))),

    "q08_explode_count" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))),

    "q09_case_bucket" -> ((s, d) =>
      Tables.lineitem(s, d)
        .withColumn("qty_group", DeriveColumns.bucket(col("l_quantity"),
          Seq((10.0, "small"), (25.0, "medium"), (40.0, "large")), "xlarge"))
        .groupBy("qty_group")
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))),

    "q10_date_derive" -> ((s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        DeriveColumns.monthYear(col("o_orderdate")).as("month_year"),
        DeriveColumns.monthYearSort(col("o_orderdate")).cast("long").as("month_year_sort"),
        DeriveColumns.flag(col("o_orderpriority") === "1-URGENT").cast("long").as("is_urgent"),
        datediff(lit("1998-12-01").cast("date"), col("o_orderdate")).cast("long").as("age_days"))),

    "q11_multiformat_dates" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val raw = when(pmod(col("o_orderkey"), lit(3)) === 0, date_format(col("o_orderdate"), "dd MMM,yyyy"))
        .when(pmod(col("o_orderkey"), lit(3)) === 1, date_format(col("o_orderdate"), "yyyy/MM/dd"))
        .otherwise(date_format(col("o_orderdate"), "MM-dd-yyyy"))
      o.select(col("o_orderkey"), raw.as("raw_date"))
        .withColumn("parsed", DeriveColumns.multiFormatTimestamp(col("raw_date"),
          Seq("dd MMM,yyyy", "yyyy/MM/dd", "MM-dd-yyyy")))
    }),

    "q12_summary_counts" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("month_year_sort", DeriveColumns.monthYearSort(col("o_orderdate")).cast("long"))
      Summaries.flagCounts(o, Seq("month_year_sort"), Seq(
        "n_urgent" -> (col("o_orderpriority") === "1-URGENT"),
        "n_open" -> (col("o_orderstatus") === "O"),
        "n_high_value" -> (col("o_totalprice") > 150000.0),
        "n_total" -> lit(true)))
    }),

    "q13_completeness" -> ((s, d) =>
      Summaries.completeness(Tables.events(s, d),
        Seq("event_id", "ts", "user_id", "event_type", "value", "props"))),

    "q14_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k").cast("long")).as("sum_k"), min("k").as("min_k"),
          max("k").as("max_k"), count(lit(1)).as("n"))),

    "q15_window_nth" -> ((s, d) =>
      Windows.nthPerKey(Tables.events(s, d), Seq("user_id"), Seq(col("ts"), col("event_id")), 2)),

    "q16_manual_fix" -> ((s, d) => {
      val fixed = DeriveColumns.manualFix(Tables.customer(s, d),
        "c_acctbal", col("c_acctbal") < 0, lit(0.0))
      fixed.select(col("c_custkey"), col("c_acctbal"),
        DeriveColumns.recode(col("c_mktsegment"),
          Map("AUTOMOBILE" -> "AUTO", "HOUSEHOLD" -> "HOME")).as("c_mktsegment"))
    }),

    "q17_topk_per_group" -> ((s, d) =>
      Windows.topKPerKey(Tables.part(s, d), Seq("p_brand"),
          Seq(col("p_retailprice").desc, col("p_partkey")), 3)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rank").cast("long").as("rank"))),

    // built on the declarative rules engine; rule order = reason precedence
    "q18_validate_ranges" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("reason", Validation.firstViolation(Seq(
          Validation.NotNull("value", "null_value"),
          Validation.Min("value", 10.0, "too_low"),
          Validation.Max("value", 990.0, "too_high"))))
        .filter(col("reason").isNotNull)
        .select("event_id", "user_id", "value", "reason")),

    "q19_merge_upsert" -> ((s, d) => {
      val e = Tables.events(s, d)
      val base = e.filter(pmod(col("event_id"), lit(2)) === 0)
      val update = e.filter(pmod(col("user_id"), lit(3)) === 0)
      Dedup.keepLatest(Unions.unionViews(Seq(base, update)),
        Seq("event_id"), col("ts"), col("event_id"))
    }),

    "q20_label_recode" -> ((s, d) =>
      Tables.customer(s, d)
        .select(DeriveColumns.recode(col("c_mktsegment"),
          Map("AUTOMOBILE" -> "AUTO", "HOUSEHOLD" -> "HOME")).as("segment"))
        .groupBy("segment").agg(count(lit(1)).as("n"))),

    // ── LLM-pipeline operators ───────────────────────────────────────────
    "q21_dedup_exact_text" -> ((s, d) =>
      Dedup.exactByHash(Tables.documents(s, d), Seq("text"), "doc_id")),

    // one code-point walk via the graft_token_profile kernel — the
    // Column form paid three regex scans per row (73.6 s of the 300×
    // family probe); whole-stage codegen's subexpression elimination
    // evaluates the kernel once for both output columns
    "q22_token_count" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val p = TextAnalysis.tokenProfile(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        p.getItem(0).as("n_tokens_ws"),
        TextAnalysis.bpeishFromProfile(p).as("n_tokens_bpe"))
    }),

    "q23_quality_score" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatioFast(col("text"), stopwords).as("stopword_ratio"),
        TextAnalysis.qualityScoreFast(col("text"), stopwords).as("quality"))
    }),

    "q24_lang_id" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables.documents(s, d)
        .select(TextAnalysis.langIdFast(col("text"), langMarkers).as("lang_pred"))
        .groupBy("lang_pred").agg(count(lit(1)).as("n"))
    }),

    "q25_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))),

    "q26_ngram_jaccard" -> ((s, d) =>
      NearDup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 7, 0.2)),

    "q27_minhash_lsh" -> ((s, d) => {
      // docs with < n tokens have no shingles → all-null signature that
      // would collapse to md5('') bands while the oracle omits them;
      // filter them out up front (cheap token-count predicate, matching
      // the oracle's natural behavior)
      val sigs = Tables.documents(s, d)
        .filter(size(split(lower(trim(col("text"))), "\\s+")) >= 5)
        .select(col("doc_id"), NearDup.minhashSignature(col("text"), 5, 16).as("sig"))
      sigs.select(col("doc_id"),
        md5(concat_ws("|", slice(col("sig"), 1, 4))).as("b0"),
        md5(concat_ws("|", slice(col("sig"), 5, 4))).as("b1"),
        md5(concat_ws("|", slice(col("sig"), 9, 4))).as("b2"),
        md5(concat_ws("|", slice(col("sig"), 13, 4))).as("b3"))
    }),

    // md5-derived token hashes, so the DuckDB oracle reproduces the
    // signatures bit-for-bit.
    // Catalog runs the collapse-first default: representative pairs +
    // multiplicities (the per-instance expansion is the opt-in yardstick —
    // its output is quadratic in dup-group size, the last 300×-probe
    // hazard r10 flagged)
    "q28_simhash" -> ((s, d) =>
      NearDup.simhashPairs(Tables.documents(s, d), "doc_id", "text", maxDist = 8,
        collapseExact = true)),

    // threshold 0.4: the synthetic embeddings are near-orthogonal (max
    // pairwise cosine ≈ 0.5–0.6), so a "real" near-dup cut of 0.93 matches
    // nothing; 0.4 yields a stable nonempty pair set at every SF. Few
    // planes + more tables keeps random-hyperplane recall usable at this
    // moderate similarity (p_bit ≈ 0.63 ⇒ per-table hit ≈ 0.63^6).
    "q29_embed_neardup" -> ((s, d) =>
      Ann.embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4, nPlanes = 6, nTables = 8)),

    "q30_ann_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Ann.bruteForceTopK(e.filter(pmod(col("vec_id"), lit(50)) === 0), e,
        "vec_id", "embedding", k = 5)
    }),

    // nPlanes = 10 is a knob DEMO the q106 evaluator grades (recall
    // 0.02-0.12 on these low-structure vectors) — production ships
    // Ann.ProductionDefaults.LshNPlanes = 6 (BASELINE.md tuning grid)
    "q31_ann_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Ann.lshTopK(e.filter(pmod(col("vec_id"), lit(50)) === 0), e,
        "vec_id", "embedding", k = 5, nPlanes = 10)
    }),

    // REAL decode in the loop: solid-color PNGs are encoded per row
    // (dims/fill = pure functions of the id), then decodeMeta parses the
    // actual container bytes via javax.imageio — the oracle's arithmetic
    // only matches if the decoder truly read the payload
    "q32_multimodal_meta" -> ((s, d) =>
      Multimodal.decodeMeta(
        Multimodal.synthesizeImages(Tables.customer(s, d), "c_custkey"),
        ImageIoCodec)),

    // REAL WAV audio round-trip (the q32 move for audio, closing the
    // StubCodec honesty gap for one more format): synthesize PCM-16 WAVs
    // whose samples are integer formulas of the id, decode them through
    // the JDK javax.sound.sampled reader, emit measured format + integer
    // amplitude stats — the oracle replays the FORMULAS, so the row only
    // matches if the codec genuinely parses the RIFF container
    "q150_audio_meta" -> ((s, d) =>
      Multimodal.decodeAudioMeta(
        Multimodal.synthesizeAudio(Tables.customer(s, d), "c_custkey"),
        AudioWavCodec)),

    // REAL multi-frame video-container round-trip (retires the video
    // stub for the one genuinely JDK-decodable container): animated GIFs
    // whose per-FRAME fill colors are integer formulas of (id, frame),
    // frame-sampled every 2nd frame through the ImageIO sequence reader.
    // The oracle replays the formulas per frame — "always decode frame
    // 0" or a miscounted container fails the hash. Every 5th customer
    // (the q140 sampling move): the GIF sequence writer costs ~2 ms per
    // media item, real and linear — the certification doesn't need the
    // whole table paying it every bench round
    "q151_video_frames" -> ((s, d) => {
      val media = Multimodal.synthesizeVideos(
        Tables.customer(s, d).filter(pmod(col("c_custkey"), lit(5)) === 0),
        "c_custkey")
      Multimodal.frameFeatures(media, everyNth = 2, codec = GifFrameCodec)
        .select(col("media_id"), col("frame_no"),
          element_at(col("feature"), 1).cast("int").as("width"),
          element_at(col("feature"), 2).cast("int").as("height"),
          round(element_at(col("feature"), 3) * 255).cast("int").as("mean_r"),
          round(element_at(col("feature"), 4) * 255).cast("int").as("mean_g"),
          round(element_at(col("feature"), 5) * 255).cast("int").as("mean_b"))
    }),

    "q34_day_slice" -> ((s, d) =>
      Windows.dayOffsetSlice(Tables.events(s, d), Seq("user_id"), col("ts"), day = 2)
        .select("event_id", "user_id", "ts", "event_type")),

    "q35_mcl_explode" -> ((s, d) => {
      val o = Tables.orders(s, d).withColumn("mcl",
        concat_ws(",", col("o_orderstatus"), col("o_orderpriority"),
          when(col("o_totalprice") > 150000.0, "HV").otherwise("")))
      Mcl.explodeChoices(o, col("mcl"))
        .select(Mcl.recodeChoice(col("choice"),
          Map("O" -> "Open", "F" -> "Finished", "P" -> "Pending")).as("choice"))
        .groupBy("choice").agg(count(lit(1)).as("n"))
    }),

    "q36_completeness_nonempty" -> ((s, d) =>
      Summaries.completenessNonEmpty(
        Tables.documents(s, d).withColumn("source_blanked",
          when(pmod(col("doc_id"), lit(7)) === 0, "").otherwise(col("source"))),
        Seq("text", "lang", "source_blanked"))),

    // auto-sized learned centroids: k = ceil(sqrt(n)) from one count job,
    // stride init, 2 exact k-means iterations — the oracle replays the
    // identical centroid evolution from the parquet (Ann.autoCentroids)
    "q37_ann_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Ann.ivfTopKWith(e.filter(pmod(col("vec_id"), lit(50)) === 0), e,
        "vec_id", "embedding", k = 5,
        Ann.autoCentroids(e, "vec_id", "embedding"), nProbe = 4)
    }),

    "q38_salted_join" -> ((s, d) => {
      // lineitem is deliberately skewed onto one hot supplier bucket via a
      // synthetic key; salted join spreads it over 8 reducers per key
      val li = Tables.lineitem(s, d)
        .withColumn("hot_key", when(pmod(col("l_orderkey"), lit(4)) === 0, 0L)
          .otherwise(pmod(col("l_orderkey"), lit(100))))
      val dim = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("hot_key"), col("n_name"))
      Joins.salted(li, dim, "hot_key", col("l_orderkey") * lit(100000) + col("l_linenumber"), buckets = 8)
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_lines"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
    }),

    "q39_dedup_key_prefix" -> ((s, d) => {
      // derived-table dedup: first row per (LEFT(unique_key,2), user_id) —
      // short prefix so collisions actually occur at test scale
      val e = Tables.events(s, d).withColumn("unique_key", md5(col("event_id").cast("string")))
      Dedup.keepFirst(e, Seq(substring(col("unique_key"), 1, 2), col("user_id")),
          col("ts"), col("event_id"))
        .select("event_id", "user_id", "unique_key")
    }),

    "q41_convenience_view" -> ((s, d) => {
      // BI-facing projection with sentinel scrubbing: raw date strings
      // carry 'NaT'/'Unknown' markers (synthesized deterministically in
      // both engines), scrubbed to NULL and cast
      val o = Tables.orders(s, d).withColumn("raw_dt",
        when(pmod(col("o_orderkey"), lit(11)) === 0, "NaT")
          .when(pmod(col("o_orderkey"), lit(13)) === 0, "Unknown")
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")))
      Views.projection(o, Seq(
        (col("o_orderkey"), "uid"),
        (Views.scrubbedDate(col("raw_dt")).cast("timestamp"), "admission_date"),
        (col("o_orderpriority"), "priority"),
        (Views.scrubbed(col("o_orderstatus")), "status")))
    }),

    "q40_windowed_counts" -> ((s, d) =>
      // batch twin of streaming/StreamCounts.windowedFlagCounts: tumbling
      // daily event-time windows × type of conditional counts
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(sum(when(lit(true), 1L).otherwise(0L)).as("n_total"),
          sum(when(col("value") > 500.0, 1L).otherwise(0L)).as("n_high"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_total"), col("n_high"))),

    // ── dynamic-schema / repair / rules operators (round 3) ──────────────
    "q42_key_discovery" -> ((s, d) => {
      // heterogeneous per-row JSON synthesized identically in both
      // engines: the key SET varies by row, so discovery must scan
      // values, not a static schema
      val o = Tables.orders(s, d).withColumn("form_json",
        concat(lit("{\"status\": \""), col("o_orderstatus"), lit("\""),
          when(pmod(col("o_orderkey"), lit(3)) === 0,
            concat(lit(", \"priority\": \""), col("o_orderpriority"), lit("\"")))
            .otherwise(lit("")),
          when(pmod(col("o_orderkey"), lit(5)) === 0,
            concat(lit(", \"price\": "), col("o_totalprice").cast("string")))
            .otherwise(lit("")),
          lit("}")))
      JsonImport.keyHistogram(o, col("form_json"))
    }),

    "q43_key_regen" -> ((s, d) => {
      // synthetic collisions: every 7th user's uid nulled; the rest share
      // a uid per user, so users with >1 event_type collide as
      // "different records with the same uid"
      val e = Tables.events(s, d).withColumn("uid",
        when(pmod(col("user_id"), lit(7)) === 0, lit(null).cast("string"))
          .otherwise(col("user_id").cast("string")))
      KeyRepair.regenerateUniqueKeys(e, "uid", Seq("event_type"),
          Seq(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")))
        .select("event_id", "uid", "unique_key")
    }),

    "q44_gated_date_cast" -> ((s, d) => {
      // good_dt: ~93% parse → casts; bad_dt: 50% parse → stays text
      val o = Tables.orders(s, d)
        .withColumn("good_dt",
          when(pmod(col("o_orderkey"), lit(15)) === 0, "garbage")
            .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")))
        .withColumn("bad_dt",
          when(pmod(col("o_orderkey"), lit(2)) === 0, "garbage")
            .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")))
      val gated = DeriveColumns.profileGatedDateCasts(o, Seq(
        ("good_dt", Seq("yyyy-MM-dd"), 90.0), ("bad_dt", Seq("yyyy-MM-dd"), 90.0)))
      gated.select("o_orderkey", "good_dt", "bad_dt")
    }),

    "q45_validation_rules" -> ((s, d) =>
      Validation.exceptions(Tables.orders(s, d), Seq("o_orderkey"), Seq(
        Validation.Min("o_totalprice", 10000.0, "price_low"),
        Validation.Max("o_totalprice", 400000.0, "price_high"),
        Validation.InSet("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM"), "odd_priority"),
        // never fires on clean data — exercises the rule-passes path
        Validation.MatchesRegex("o_orderstatus", "^[A-Z]$", "bad_status")))),

    // the SCALE form of sessionization: gap-merged session aggregation —
    // no per-user window sort (q33 keeps the lag/cumsum form because the
    // reference numbers sessions; this is what a 100 TB run should use)
    "q46_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("n_events"))),

    // ── round 4: fuzzy canonicalization / MCL discovery / composition ────
    // free-text canonicalization under the reference's 'Oth' gate: every
    // 4th part is coded 'Oth'; its name is probed against the substring
    // rule chain (bolt rows match nothing → sentinel passes through,
    // proving non-destructive no-match behavior)
    "q47_fuzzy_recode" -> ((s, d) => {
      val p = Tables.part(s, d)
        .withColumn("org_value",
          when(pmod(col("p_partkey"), lit(4)) === 0, "Oth").otherwise(col("p_brand")))
        .withColumn("org_label", col("p_type"))
      FuzzyRecode.canonicalize(p, "org_value", "org_label", col("p_name"), q47Rules)
        .select("p_partkey", "org_value", "org_label")
    }),

    // MCL auto-detection over a mixed-shape batch: even orders carry the
    // legacy LIST entries shape, odd orders the new DICT shape; Diag is
    // multi-valued on a subset of rows, DiagOth/AdmReason trigger the
    // name rule, Status stays single-valued everywhere
    "q48_mcl_discovery" -> ((s, d) => {
      val listJson = concat(
        lit("""[{"key": "Status", "values": [{"value": """"), col("o_orderstatus"),
        lit(""""}]}, {"key": "DiagOth", "values": [{"value": "free"}]}"""),
        when(pmod(col("o_orderkey"), lit(6)) === 0,
          lit(""", {"key": "Diag", "values": [{"value": "A"}, {"value": "B"}]}"""))
          .otherwise(lit(""", {"key": "Diag", "values": [{"value": "A"}]}""")),
        lit("]"))
      val dictJson = concat(
        lit("""{"Status": {"values": {"value": [""""), col("o_orderstatus"),
        lit(""""], "label": ["s"]}}, "AdmReason": {"values": {"value": ["R"], "label": ["Reason"]}}"""),
        when(pmod(col("o_orderkey"), lit(5)) === 0,
          lit(""", "Diag": {"values": {"value": ["A","B"], "label": ["La","Lb"]}}"""))
          .otherwise(lit("")),
        lit("}"))
      val parsed = Tables.orders(s, d).select(
        when(pmod(col("o_orderkey"), lit(2)) === 0, listJson)
          .otherwise(dictJson).as("entries_json"))
      JsonImport.discoverMclKeys(parsed)
        .select(col("key"), col("max_vals").cast("long").as("max_vals"), col("is_mcl"))
    }),

    // combined cross-source diagnoses: session-JSON MCL labels exploded
    // (multi-label entries on every 3rd order) UNION ALL a second direct
    // source — the create_combined_diagnoses composition over graft's
    // explodeMclKey + unionByName
    "q49_combined_diagnoses" -> ((s, d) => {
      val entries = concat(
        lit("""[{"key": "Diagnoses", "values": [{"value": "V1", "label": """"),
        col("o_orderstatus"), lit("\"}"),
        when(pmod(col("o_orderkey"), lit(3)) === 0,
          concat(lit(""", {"value": "V2", "label": """"), col("o_orderpriority"), lit("\"}")))
          .otherwise(lit("")),
        lit("]}]"))
      val parsed = Tables.orders(s, d).select(
        col("o_orderkey").cast("string").as("uid"),
        lit("adm").as("scriptid"), entries.as("entries_json"))
      val exploded = JsonImport.explodeMclKey(parsed, "Diagnoses")
        .select(col("uid"), col("label").as("diagnosis"))
      val direct = Tables.customer(s, d).select(
        col("c_custkey").cast("string").as("uid"), col("c_mktsegment").as("diagnosis"))
      exploded.unionByName(direct)
    }),

    // metadata-compiled validation: the rule list is GENERATED from a
    // field-info frame (key/type/optional/range/options), then run through
    // the same exceptions engine as q45 — the reference's runtime
    // expectation-suite build
    "q50_metadata_rules" -> ((s, d) => {
      import s.implicits._
      val meta = Seq(
        ("price", "number", false, Some(50000.0), Some(400000.0), Seq.empty[String]),
        ("adm", "date", true, None, None, Seq.empty[String]),
        ("prio", "", true, None, None, Seq("1-URGENT", "2-HIGH", "3-MEDIUM")))
        .toDF("key", "data_type", "optional", "min_value", "max_value", "options")
      val rules = Validation.fromFieldInfoDf(meta)
      val w = Tables.orders(s, d).select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null).cast("string"))
          .when(pmod(col("o_orderkey"), lit(13)) === 0, "oops")
          .otherwise(col("o_totalprice").cast("string")).as("price_value"),
        when(pmod(col("o_orderkey"), lit(11)) === 0, "NaT")
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("adm_value"),
        col("o_orderpriority").as("prio_value"))
      Validation.exceptions(w, Seq("o_orderkey"), rules)
    }),

    // pairs → groups: connected components over the near-dup pair graph
    // (min-label propagation, localCheckpoint per round) — the dedup
    // DECISION step the pair emitters feed
    // components consume the CONNECTIVITY-equivalent collapsed edge
    // stream (representative near-dup edges + exact-dup star edges) —
    // identical components to the per-instance q26 pair stream at
    // O(members) edges instead of O(members²) on dup-heavy corpora
    // (100×-replica probe: 45 s → seconds)
    "q51_neardup_components" -> ((s, d) => {
      val edges = NearDup.ngramJaccardComponentEdges(
        Tables.documents(s, d), "doc_id", "text", 7, 0.2)
      Dedup.connectedComponents(edges)
        .select(col("id").cast("long").as("doc_id"), col("comp").cast("long").as("comp"))
    }),

    // training-mix curation: take docs per language, in id order, until a
    // 2k-token budget is spent (the doc crossing the line is kept)
    "q52_token_budget_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok"))
      Sampling.tokenBudgetPerStratum(docs, col("lang"), Seq(col("doc_id")),
        col("n_tok"), budget = 2000L)
    }),

    // pre-tokenization scrub stack: markup strip + email/phone redaction
    // over deterministically-dirtied text (PII synthesized in both engines)
    "q53_clean_redact" -> ((s, d) => {
      val dirty = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("<p class=\"x\">"), col("text"),
          lit("</p> contact: user"), col("doc_id"),
          lit("@example.com tel: +263 771 23 45 67")).as("raw"))
      dirty.select(col("doc_id"), TextAnalysis.cleanForTraining(col("raw")).as("clean"))
    }),

    // free-text age normalization (assorted_fixes.extract_years): bare
    // numbers, '<n> years' phrases (any case, embedded), garbage → NULL
    "q54_extract_years" -> ((s, d) => {
      val num = pmod(col("c_custkey"), lit(80)).cast("string")
      val raw = when(pmod(col("c_custkey"), lit(5)) === 0, concat(num, lit(" years")))
        .when(pmod(col("c_custkey"), lit(5)) === 1,
          concat(lit("aged "), num, lit(".5 years old")))
        .when(pmod(col("c_custkey"), lit(5)) === 2, num)
        .when(pmod(col("c_custkey"), lit(5)) === 3, lit("unknown"))
        .otherwise(concat(num, lit(" YEARS")))
      Tables.customer(s, d).select(col("c_custkey"), raw.as("age_raw"))
        .withColumn("years", DeriveColumns.extractYears(col("age_raw")))
    }),

    // metadata-driven type coercion of the wide table: number/date/boolean
    // columns cast per field metadata, garbage → null (booleans → false,
    // the reference's fillna); selects stay strings
    "q55_typed_coercion" -> ((s, d) => {
      val meta = Seq(
        Validation.FieldInfo("price", dataType = "number"),
        Validation.FieldInfo("flag", dataType = "boolean"),
        Validation.FieldInfo("adm", dataType = "date"),
        Validation.FieldInfo("mode", dataType = "dropdown"))
      val w = Tables.orders(s, d).select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(13)) === 0, "oops")
          .otherwise(col("o_totalprice").cast("string")).as("price_value"),
        when(pmod(col("o_orderkey"), lit(4)) === 0, "Y")
          .when(pmod(col("o_orderkey"), lit(4)) === 1, "no")
          .when(pmod(col("o_orderkey"), lit(4)) === 2, "1")
          .otherwise("maybe").as("flag_value"),
        when(pmod(col("o_orderkey"), lit(11)) === 0, "NaT")
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("adm_value"),
        col("o_orderpriority").as("mode_value"))
      DeriveColumns.coerceByFieldInfo(w, meta)
    }),

    // best-match duplicate resolution: orders ≈ admissions, lineitems ≈
    // candidate discharges (several per order; quantity filter leaves some
    // orders with NO candidate → unmatched-left path). Clinical fields are
    // integer-derived STRINGS with nulls ('ofc') and garbage ('unknown'
    // gest on every 7th order → all candidates score −1 → keep-first by
    // linenumber), exercising every branch of calculate_match_score /
    // resolve_duplicate_matches
    "q56_best_match_join" -> ((s, d) => {
      val adm = Tables.orders(s, d).select(
        col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null).cast("string"))
          .otherwise(pmod(col("o_orderkey") * 13, lit(97)).cast("string")).as("adm_ofc"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit("unknown"))
          .otherwise(pmod(col("o_orderkey") * 7, lit(45)).cast("string")).as("adm_gest"),
        // every 7th order garbles ALL THREE fields so its whole candidate
        // group scores −1 — the multi-candidate keep-first path must be
        // live in the oracle data, not only in the unit spec
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit("n/a"))
          .otherwise((pmod(col("o_orderkey"), lit(30)) * 100 + 1000).cast("string")).as("adm_bw"))
      val dis = Tables.lineitem(s, d).filter(col("l_quantity") < 30)
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          when(pmod(col("l_suppkey"), lit(3)) === 0, lit(null).cast("string"))
            .otherwise(pmod(col("l_partkey"), lit(97)).cast("string")).as("dis_ofc"),
          pmod(col("l_suppkey"), lit(45)).cast("string").as("dis_gest"),
          (pmod(col("l_partkey"), lit(30)) * 100 + 1000).cast("string").as("dis_bw"))
      def score(j: DataFrame): Column = Joins.matchScore(Seq(
        (col("adm_ofc"), col("dis_ofc"), 10.0, 1.0),
        (col("adm_gest"), col("dis_gest"), 10.0, 1.0),
        (col("adm_bw"), col("dis_bw"), 5.0, 500.0)))
      Joins.bestMatch(adm, dis, Seq("o_orderkey"), Seq("o_orderkey"),
          score, _ => col("l_linenumber"))
        .select(col("o_orderkey"),
          col("l_linenumber").cast("long").as("best_line"),
          round(score(null), 4).as("match_score"))
    }),

    // the reference's joined-table outcome-flag family (DeathCount /
    // Death<24hrsCount / … / PrematureCount / HypothermiaCount) as
    // 1-or-NULL columns — label-driven flags over synthetic outcome
    // labels, try_cast-gated weight flag with garbage ('oops') rows
    "q57_outcome_flags" -> ((s, d) => {
      val label = when(pmod(col("o_orderkey"), lit(5)) === 0, "NND less than 24 hrs old")
        .when(pmod(col("o_orderkey"), lit(5)) === 1, "Discharged")
        .when(pmod(col("o_orderkey"), lit(5)) === 2, "Death (at MORE than 24 hrs of age)")
        .when(pmod(col("o_orderkey"), lit(5)) === 3, lit(null).cast("string"))
        .otherwise(lit("Transferred to other hospital"))
      val bw = when(pmod(col("o_orderkey"), lit(9)) === 0, "oops")
        .otherwise((pmod(col("o_orderkey"), lit(40)) * 100).cast("string"))
      val th = when(pmod(col("o_orderkey"), lit(7)) === 0, "Hypothermia")
        .otherwise(lit("Normothermia"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), label.as("outcome_label"),
          bw.as("bw_value"), th.as("thermia"))
        .withColumns(DeriveColumns.referenceOutcomeFlags(
          col("outcome_label"), col("bw_value"), col("thermia")).toMap)
        .drop("outcome_label", "bw_value", "thermia")
    }),

    // the maternal-outcomes summary shape (create_summary_maternal_
    // outcomes_sql.py): sentinel-scrubbed admission date, label/value
    // projection, BirthCount 1-or-NULL flag, and the PAIRED bucket
    // families — label + numeric sort key with an explicit NULL bucket
    "q58_maternal_summary" -> ((s, d) => {
      val gest = when(pmod(col("o_orderkey"), lit(11)) === 0, lit(null).cast("double"))
        .otherwise(pmod(col("o_orderkey"), lit(50)).cast("double"))
      val bwt = when(pmod(col("o_orderkey"), lit(13)) === 0, lit(null).cast("double"))
        .otherwise((pmod(col("o_orderkey"), lit(45)) * 100).cast("double"))
      val rawDt = when(pmod(col("o_orderkey"), lit(7)) === 0, "NaT")
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
      val (gestGrp, gestSort) = DeriveColumns.bucketWithSort(gest,
        Seq((28.0, "<28wks"), (32.0, "28-32wks"), (34.0, "32-34wks"),
          (37.0, "34-36wks"), (42.0, "Term")), "Post Term", "Unknown")
      val (bwtGrp, bwtSort) = DeriveColumns.bucketWithSort(bwt,
        Seq((1000.0, "<1000g"), (1500.0, "1000-1500g"), (2500.0, "1500-2500g"),
          (3500.0, "2500-3500g"), (4000.0, "3500-4000g")), ">4000g", "Unknown")
      Tables.orders(s, d).select(
        col("o_orderkey").as("uid"),
        // timestamp, not date: both engines' dataframe bridges agree on
        // timestamp representation (the q41 convention)
        Views.scrubbedDate(rawDt).cast("timestamp").as("date_of_admission"),
        col("o_orderpriority").as("neonate_outcome"),
        gest.as("gestation"), bwt.as("birth_weight"),
        DeriveColumns.outcomeFlag(Views.scrubbedDate(rawDt).isNotNull).as("birth_count"),
        gestGrp.as("gestation_group"), gestSort.as("gestation_group_sort"),
        bwtGrp.as("birth_weight_group"), bwtSort.as("birth_weight_group_sort"))
    }),

    // benchmark decontamination: corpus docs sharing >= 1 distinct word
    // 4-gram with the benchmark slice (source src0), with the per-doc
    // count of leaked n-grams — the standard eval-leak removal step
    "q59_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Quality.contaminationHits(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 4)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_hits").cast("long").as("n_hits"))
    }),

    // Gopher-style repetition profile: token count, most-frequent-token
    // fraction, duplicate word-3-gram instance fraction per document
    "q60_repetition_profile" -> ((s, d) =>
      Quality.repetitionProfile(Tables.documents(s, d), "doc_id", "text", n = 3)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_tokens"), col("top_token_frac"), col("dup_ngram_frac"))),

    // concat-and-chunk sequence packing: where each doc's first token
    // lands (sequence id + offset) when each language's id-ordered token
    // stream is cut into 512-token training sequences
    "q61_sequence_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok"))
      Sampling.packSequences(docs, col("lang"), Seq(col("doc_id")),
        col("n_tok"), seqLen = 512L)
    }),

    // dataset-card numeric profile of lineitem's measure columns: count /
    // nulls / min / max / exact-decimal mean / median per column (exact
    // medians from the fused exactQuantilesPerColumn core; approx is the
    // sketch path)
    "q62_numeric_profile" -> ((s, d) =>
      Summaries.numericProfile(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount"), exact = true)),

    // SemDeDup: cluster-bucketed semantic dedup over AUTO-SIZED learned
    // centroids (k = ceil(sqrt(n)), 2 exact k-means iterations — keeps the
    // within-cluster pair space ~n^1.5 as the corpus grows); greedy
    // keep-smallest-id within each cluster's cos>=0.4 near-dup sets;
    // output = kept vectors with their cluster
    "q63_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.semanticDedup(emb, "vec_id", "embedding",
        Ann.autoCentroids(emb, "vec_id", "embedding"), threshold = 0.4)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("cid").cast("int").as("cid"))
    }),

    // deterministic corpus split: 80/10/10 train/val/test as a pure
    // function of doc_id (md5 uniform — the oracle replays it)
    "q64_split_assign" -> ((s, d) =>
      Sampling.assignSplit(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        col("doc_id"),
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))),

    // unigram-LM quality score: mean ln p(token) under the corpus's own
    // top-24 unigram distribution, OOV at the 1/total smoothing floor
    "q65_unigram_logprob" -> ((s, d) =>
      Quality.unigramLogProb(Tables.documents(s, d), "doc_id", "text",
        maxVocab = 24)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_tokens"), col("mean_logprob"))),

    // BPE-AWARE token budget (SURVEY row 138's point): the q52 budget
    // cut driven by the REAL tokenizer's counts instead of the
    // whitespace proxy — train 8 merges, encode every doc through the
    // graft_bpe_count kernel (zero-shuffle projection), cut each lang
    // stratum at 2000 BPE tokens in doc_id order; blank docs count 0
    "q143_token_budget_bpe" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d)
      val merges = Quality.bpeTrain(docs, "text", numMerges = 8)
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = Quality.bpeEncode(docs, "doc_id", "text", merges,
          keepCols = Seq("lang"))
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          coalesce(col("n_bpe_tokens"), lit(0L)).as("n_tok"))
      Sampling.tokenBudgetPerStratum(enc, col("lang"), Seq(col("doc_id")),
        col("n_tok"), budget = 2000L)
    }),

    // BPE-AWARE sequence packing (clears SURVEY row 138's remaining gap:
    // q61 still packed on the whitespace proxy) — the same q143 encode
    // chain (train 8 merges, zero-shuffle graft_bpe_count projection)
    // feeds packSequences, so sequence boundaries fall where the REAL
    // tokenizer's stream is cut; blank docs count 0 (width-0 pack at
    // their running offset)
    "q144_seq_pack_bpe" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d)
      val merges = Quality.bpeTrain(docs, "text", numMerges = 8)
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = Quality.bpeEncode(docs, "doc_id", "text", merges,
          keepCols = Seq("lang"))
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          coalesce(col("n_bpe_tokens"), lit(0L)).as("n_tok"))
      Sampling.packSequences(enc, col("lang"), Seq(col("doc_id")),
        col("n_tok"), seqLen = 512L)
    }),

    // DEEP BPE TRAIN (q137 at production-ish depth): 128 greedy merges
    // over an md5-shaped corpus (500 distinct 32-char hex words — the
    // synthetic documents' natural 31-word vocabulary exhausts at 107
    // merges, so the variant reshapes text to hash words). Runs the
    // batched distributed rounds whatever the dictionary size (the one
    // query that does: bpeTrain trains a dictionary this small on the
    // driver); the oracle replays 128 strictly sequential unrolled
    // iterations, re-certifying batched == sequential at depth.
    // 128 (was 256): measured 21 s vs 39 s per run with IDENTICAL
    // acceptance structure (avg batch ~2.0, 65 stop-rounds — every
    // branch of the batch rule fires), so the shallower replay buys the
    // same certification at half the standing bench + oracle cost
    "q142_bpe_train_deep" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val shaped = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("text"))
      Quality.batchedTrain(shaped, "text", numMerges = 128)
    }),

    // DEEP BPE ENCODE (q138 at >= 1k merges): a deterministic
    // 1024-entry merge table — prefix chains of the 40 smallest md5
    // corpus words, rich in multi-char symbols — applied through the
    // graft_bpe_count kernel, whose plan stays O(1) in table size. The
    // oracle replays the exact sequential fold by rank-jumping
    // recursion; the kernel==fold equivalence is fuzz-pinned in
    // QualitySpec over arbitrary tables
    "q141_bpe_encode_deep" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val shaped = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("text"))
      // chain-word set: bounded (40 rows) plan constant, like centroids
      val chainWords = shaped.select(col("text")).distinct()
        .orderBy("text").limit(40).collect().map(_.getString(0))
      val merges = chainWords.toSeq.flatMap { w =>
        (1 until w.length).map(i => (w.substring(0, i), w.substring(i, i + 1)))
      }.take(1024)
      Quality.bpeEncode(shaped, "doc_id", "text", merges)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_tokens_ws"), col("n_bpe_tokens"), col("bpe_per_word"))
    }),

    // JL random projection 64→16 then brute-force top-5 in the projected
    // space: the cheap distance-preserving reduction (works on data with
    // NO low-rank structure, unlike PCA) — 4× less distance compute per
    // downstream stage
    "q140_rp_ann" -> ((s, d) => {
      val e = Ann.rpProject(Tables.embeddings(s, d), "embedding", "emb16",
        k = 16, seed = 7)
      Ann.bruteForceTopK(e.filter(pmod(col("vec_id"), lit(50)) === 0), e,
        "vec_id", "emb16", 5)
    }),

    // C4 line-level cleaning over deterministically line-shaped text
    // (the synthetic docs carry no newlines/punctuation, so the catalog
    // inserts a sentence break every 6 words first — the same shaping
    // the oracle replays); the filter itself is a pure projection
    "q139_c4_line_filter" -> ((s, d) => {
      val shaped = Tables.documents(s, d).withColumn("text",
        regexp_replace(col("text"),
          "(\\w+ \\w+ \\w+ \\w+ \\w+ \\w+) ", "$1.\n"))
      Quality.c4LineFilter(shaped, "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("n_lines"),
          col("n_kept"), col("doc_flagged"), col("clean_text"),
          col("kept_ratio"))
    }),

    // BPE encode under the q137-learned merges: per-doc token counts
    // under the REAL tokenizer (the number token budgets should use, not
    // the whitespace proxy) — training collects 8 merges via bpeTrain,
    // encoding is a pure zero-shuffle codegen projection whose
    // merge table ships as ONE kernel constant (plan O(1) in merges)
    "q138_bpe_encode" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d)
      val merges = Quality.bpeTrain(docs, "text", numMerges = 8)
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Quality.bpeEncode(docs, "doc_id", "text", merges)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_tokens_ws"), col("n_bpe_tokens"), col("bpe_per_word"))
    }),

    // ── URL / domain web-curation family (the C4/RefinedWeb first step) ──

    // URL canonicalization + registered-domain extraction: ONE one-walk
    // codegen kernel call per row (the three projections index one
    // deduped subexpression) — zero shuffles, plan-pinned. The DuckDB
    // oracle replays every rule in independent regex/list SQL, so the
    // walker is certified by a second implementation, not by itself
    "q146_url_canonicalize" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables.documents(s, d)
        .select(col("doc_id"), synthUrl(col("doc_id"), col("source")).as("url"))
        .select(col("doc_id"), col("url"),
          TextAnalysis.canonicalUrl(col("url")).as("url_canon"),
          TextAnalysis.urlHost(col("url")).as("host"),
          TextAnalysis.registeredDomain(col("url")).as("domain"))
    }),

    // registered-domain rollup behind the blocklist gate: docs/hosts/
    // distinct-canonical-pages/chars per domain (n_pages < n_docs is the
    // canonicalizer collapsing impression variants), blocked domains
    // (one .com, one .co.uk) filtered BEFORE the shuffle by a
    // plan-constant IN list — ONE hash aggregation; the two
    // count-distincts ride the standard Expand partial-agg shape
    "q147_domain_rollup" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val parts = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          synthUrl(col("doc_id"), col("source")).as("url"))
        .select(col("n_chars"),
          TextAnalysis.canonicalUrl(col("url")).as("url_canon"),
          TextAnalysis.urlHost(col("url")).as("host"),
          TextAnalysis.registeredDomain(col("url")).as("domain"))
      parts.filter(!TextAnalysis.domainBlocked(col("domain"), urlBlockedDomains))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          countDistinct(col("url_canon")).as("n_pages"),
          sum(col("n_chars")).as("total_chars"))
    }),

    // per-domain contribution cap: each registered domain keeps its 5
    // smallest-hash docs (bounded-heap agg — losing rows never shuffle,
    // no window sort; the anti-SEO-farm step right after canonicalization)
    "q148_per_domain_cap" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val parts = Tables.documents(s, d)
        .select(col("doc_id"), synthUrl(col("doc_id"), col("source")).as("url"))
        .select(col("doc_id"),
          TextAnalysis.registeredDomain(col("url")).as("domain"))
      Sampling.perDomainCap(parts, col("domain"), col("doc_id"), k = 5)
        .select(col("doc_id"), col("domain"), col("rank"))
    }),

    // HTML main-content extraction: the step every real crawl pays
    // between q146's URL gate and q139's line filter — synthesize a
    // deterministic page per doc (nav/link-box/footer boilerplate around
    // the text as the content block), score blocks by word count ×
    // link density in ONE kernel walk, emit kept text + block census.
    // Zero shuffles; the DuckDB oracle replays block split, tag strip,
    // link-density scoring and the kept-text join in regex/list SQL
    "q152_html_extract" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          synthHtml(col("doc_id"), col("text"), col("source")).as("html"))
        .select(col("doc_id"), TextAnalysis.htmlMain(col("html")).as("hm"))
        .select(col("doc_id"),
          col("hm").getItem(1).cast("long").as("n_blocks"),
          col("hm").getItem(2).cast("long").as("n_kept"),
          col("hm").getItem(3).cast("long").as("total_chars"),
          col("hm").getItem(4).cast("long").as("kept_chars"),
          when(col("hm").getItem(3).cast("long") > 0,
            round(lit(1.0) - col("hm").getItem(4).cast("double") /
              col("hm").getItem(3).cast("double"), 5)).as("boilerplate_ratio"),
          col("hm").getItem(0).as("clean_text"))
    }),

    // TRAINED language ID (retires q24's marker voting as the only lang
    // signal): hashed char-trigram NB weight vectors as plan constants,
    // ONE kernel walk scores all 8 languages, argmax + margin in Column
    // arithmetic — scored over deterministic multilingual synthesis so
    // the oracle certifies hash, weights, argmax AND the accuracy frame
    // (lang_true rides along). Zero shuffles, no vocabulary join
    "q153_lang_id_vec" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val (langTrue, text) = synthMultilingual(col("doc_id"))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), langTrue.as("lang_true"), text.as("text"))
      LangId.predict(docs, "text")
        .select(col("doc_id"), col("lang_true"), col("lang_pred"),
          col("n_grams"), col("score"), col("margin"))
    }),

    // exact duplicated-SUBSTRING removal (Lee et al. 2021 semantics at
    // k-token-gram granularity): boilerplate sewn INTO unique documents
    // is cut span-wise while the prose stays — the operation doc-level
    // dedup (q21/q27/q74) cannot express. Gram occurrences shuffle as
    // 8-byte hashes; only hash candidates rehydrate strings for the
    // exact confirm, so collisions can never mark a unique gram. The
    // oracle replays gram expansion, the >=2-distinct-docs rule,
    // interval cover, span count and the token cut in generate_series/
    // window SQL
    "q154_dup_span_strip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          synthDupSpanText(col("doc_id"), col("text")).as("text"))
      Dedup.stripDupSpans(docs, "doc_id", "text", k = 8)
    }),

    // unicode normalization front door (zero-width/BOM strip, control
    // strip keeping \t\n, NFC compose) — the scrub every crawled corpus
    // pays before token counts and fingerprints are trustworthy. One
    // translate + one regex + one codegen NFC kernel, zero shuffles; the
    // oracle rebuilds the injected mess from chr() codepoints and
    // replays NFC with DuckDB's own nfc_normalize — an independent
    // implementation of the same Unicode standard
    "q155_unicode_normalize" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          synthMessyText(col("doc_id"), col("text")).as("text"))
        .select(col("doc_id"),
          TextAnalysis.normalizeUnicode(col("text")).as("nu"))
        .select(col("doc_id"),
          col("nu.clean_text").as("clean_text"),
          col("nu.n_zero_width").as("n_zero_width"),
          col("nu.n_control").as("n_control"),
          col("nu.nfc_changed").as("nfc_changed"))
    }),

    // CERTIFICATION row: the collapse-first twin of q154 runs against
    // the IDENTICAL oracle SQL — every correctness run re-certifies
    // per-instance == collapsed on real data (the q137/q145 pattern).
    // The twin is the dup-heavy plan: gram machinery over DISTINCT
    // texts with the hits-level multiplicity rule; measured 3.0x on the
    // 100x exact-dup-heavy corpus at identical output
    "q158_dup_span_collapsed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          synthDupSpanText(col("doc_id"), col("text")).as("text"))
      Dedup.stripDupSpans(docs, "doc_id", "text", k = 8,
        collapseExact = true)
    }),

    // INCREMENTAL connected-components maintenance (q51's closure,
    // continuous-ingest face): even doc_ids play history — their pair
    // graph is resolved once into standing labels — and odd doc_ids play
    // the increment: within-increment edges + cross edges (collapsed
    // 7-gram Jaccard at the q51 threshold) attach through
    // updateComponents, which contracts new edges through the standing
    // labels and runs CC ONLY over the delta graph (history edges never
    // re-enter). The decomposed edge set is closure-equivalent to the
    // full-corpus q51 graph (star edges bridge exact-text members to
    // their reps on each side; cross rep-edges carry qualifying mixed
    // pairs), so the oracle is q51's recursive closure VERBATIM — every
    // correctness run certifies incremental == batch on real data
    "q159_incremental_components" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val history = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      val increment = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      val standing = Dedup.connectedComponents(
        NearDup.ngramJaccardComponentEdges(history, "doc_id", "text", 7, 0.2))
      val incEdges = NearDup
        .ngramJaccardComponentEdges(increment, "doc_id", "text", 7, 0.2)
        .select("id_a", "id_b")
      val crossEdges = NearDup.crossNgramPairs(increment, history,
          "doc_id", "doc_id", "text", "text", n = 7, minJaccard = 0.2)
        .select(col("id_l").as("id_a"), col("id_r").as("id_b"))
      Dedup.updateComponents(standing, incEdges.unionByName(crossEdges))
        .select(col("id").cast("long").as("doc_id"),
          col("comp").cast("long").as("comp"))
    }),

    // unigram-LM (SentencePiece-class) tokenizer TRAIN: integer
    // micro-unit costs from the first quantization on, so the seed →
    // hard-EM → prune chain replays bit-for-bit in DuckDB (the um* CTE
    // builders). Words truncate to 8 code points on BOTH sides — that
    // bounds the oracle's unrolled Viterbi, not the operator (the
    // driver DP handles any length)
    "q160_unigram_train" -> ((s, d) =>
      UnigramLm.trainLocalDf(synthUnigramDocs(Tables.documents(s, d)),
        "text", seedMultis = 120, emIters = 2, maxPieceLen = 4)),

    // unigram-LM ENCODE under the q160-trained table: per-doc piece
    // counts via the graft_unigram_count kernel (zero-shuffle codegen
    // projection, table ships once per plan); the oracle replays train
    // then one more DP under the final costs (the q138 pattern)
    "q161_unigram_encode" -> ((s, d) => {
      val docs = synthUnigramDocs(Tables.documents(s, d))
      val model = UnigramLm.trainLocal(docs, "text", seedMultis = 120,
        emIters = 2, maxPieceLen = 4)
      UnigramLm.encode(docs, "doc_id", "text",
        model.map(p => (p.piece, p.cost)))
    }),

    // domain-authority PageRank over the synthesized link graph: the
    // web-curation quality prior that is a GRAPH iteration, not a
    // projection. Deterministic edges from doc_id (each doc's domain
    // links to two hash-derived domains; every 11th doc links to a
    // sink archive domain with no outlinks, so the dangling-mass path
    // is exercised for real). EXACT-INTEGER ranks (micro-units, floor
    // divisions) — the DuckDB oracle replays 5 iterations as a CTE
    // ladder and the hash compare is exact, no float summation order
    "q162_domain_pagerank" -> ((s, d) => {
      val tldArr = array(urlTlds.map(lit): _*)
      def domName(idx: Column): Column =
        concat(lit("site"),
          substring(md5(concat(lit("dom"), idx.cast("string"))), 1, 6),
          lit("."), element_at(tldArr, (pmod(idx, lit(8)) + 1).cast("int")))
      val base = Tables.documents(s, d).select(col("doc_id"),
        pmod(col("doc_id"), lit(23)).as("si"),
        pmod(col("doc_id") * 7 + 3, lit(23)).as("t1"),
        pmod(col("doc_id") * 13 + 5, lit(23)).as("t2"))
      val edges = base.select(domName(col("si")).as("src"), domName(col("t1")).as("dst"))
        .unionAll(base.select(domName(col("si")).as("src"), domName(col("t2")).as("dst")))
        .unionAll(base.filter(pmod(col("doc_id"), lit(11)) === 0)
          .select(domName(col("si")).as("src"), lit("archive.example").as("dst")))
        .filter(col("src") =!= col("dst"))
      Graphs.pageRank(edges, iters = 5)
        .select(col("id").as("domain"), col("pr_units"), col("out_weight"), col("n_in"))
    }),

    // DSIR importance resampling (Xie et al. 2023): hashed bag-of-words
    // importance weights (target = lang 'en' vs the full pool) in
    // exact-integer micro-units, then a Gumbel-top-k draw of 30 docs —
    // the sampling bridge past Moore-Lewis's deterministic top slice
    // (q81). Two token-stream aggs that shrink to 64 buckets map-side,
    // one broadcast join, one integer sum per doc, one TakeOrdered
    "q163_dsir_resample" -> ((s, d) =>
      Sampling.dsirResample(Tables.documents(s, d), "doc_id", "text",
        targetFilter = col("lang") === "en", k = 30, buckets = 64,
        carry = Seq("lang"))),

    // k-anonymity / l-diversity release audit: one hash agg over the
    // quasi-identifier key (count + distinct-count share it); the
    // sensitive attribute is synthesized deterministically so both
    // engines see the same diagnosis codes. A release gate keeps only
    // k_anonymous AND l_diverse groups
    "q164_k_anonymity" -> ((s, d) => {
      val qi = Tables.customer(s, d).select(
        col("c_nationkey").cast("int").as("nation"),
        col("c_mktsegment").as("segment"),
        (floor(col("c_acctbal") / 2000) * 2000).cast("long").as("acctbal_band"),
        pmod(col("c_custkey") * 31, lit(5)).cast("int").as("diag"))
      Privacy.kAnonymityCensus(qi,
        Seq("nation", "segment", "acctbal_band"), "diag", k = 5L, l = 2L)
    }),

    // embedding QA census: per-dimension dead/constant/mean/std over
    // exact 1e-6 micro-units (floor(v*1e6+0.5) — pure IEEE ops, no
    // decimal-string float rounding). One pass, partial aggs shrink to
    // d rows per partition before the shuffle
    "q165_embedding_stats" -> ((s, d) =>
      Ann.embeddingDimStats(Tables.embeddings(s, d), "embedding")),

    // padding-waste census: per (lang, seq_len) the one-doc-per-sequence
    // padding cost vs the packed lower bound — the report that sizes the
    // q61/q144 packing decision. Projection + one hash agg; exact
    // integer counters, one derived ratio
    "q166_padding_waste" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d).select(col("lang"),
        TextAnalysis.tokenProfile(col("text")).getItem(0).cast("long").as("n_tok"))
      Sampling.paddingWasteCensus(docs, col("lang"), col("n_tok"),
        Seq(32, 64, 128))
    }),

    // sentence-boundary-aware greedy chunking (the RAG splitter that
    // never cuts mid-sentence, next to q67's fixed token windows): the
    // greedy scan is an aggregate-HOF fold INSIDE the row — zero
    // shuffles; the oracle replays it as a per-doc recursive CTE
    "q167_sentence_chunk" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextAnalysis.chunkSentences(col("text"), maxTokens = 24)).as("ch"))
        .select(col("doc_id"), col("ch.chunk_idx").as("chunk_idx"),
          col("ch.n_sentences").as("n_sentences"), col("ch.n_tok").as("n_tok"),
          col("ch.chunk_text").as("chunk_text"))),

    // tokenizer fertility census: tokens-per-word / chars-per-token per
    // language under the REAL trained BPE (the q138 kernel) — the
    // mixture-design numbers a whitespace proxy gets wrong. Zero-shuffle
    // encode + ONE hash agg on lang
    "q168_tokenizer_fertility" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d)
      val merges = Quality.bpeTrain(docs, "text", numMerges = 8)
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Quality.tokenizerFertility(docs, "text", "lang", merges, "n_chars")
    }),

    // reliability-diagram census for the quality score against a
    // deterministic ground-truth proxy (lang='en'): per equal-width bin
    // the observed positive rate vs mean predicted score — whether a
    // "score >= t" gate MEANS what it claims. One hash agg, 10 rows
    "q169_calibration_bins" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val scored = Tables.documents(s, d).select(
        TextAnalysis.qualityScoreFast(col("text"), stopwords).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      Summaries.calibrationBins(scored, col("score"), col("pos"), nBins = 10)
    }),

    // blocked Jaro-Winkler record linkage: entity resolution between a
    // registry and its perturbed twin (one interior char dropped per
    // name, deterministically) — block on (first char, ±1 length band),
    // score with the graft_jaro_winkler kernel (semantics pinned to the
    // oracle engine), resolve per-left argmax via bounded hash agg
    "q170_record_linkage" -> ((s, d) => {
      val base = concat(lower(trim(col("p_name"))), lit(" "),
        pmod(col("p_partkey"), lit(500)).cast("string"))
      val part = Tables.part(s, d)
      val l = part.select(col("p_partkey").as("lid"), base.as("lname"))
      val r = part
        .select((col("p_partkey") + 100000L).as("rid"), base.as("nm"),
          col("p_partkey").as("pk"))
        .withColumn("k", (pmod(col("pk"), length(col("nm")) - 2) + 2).cast("int"))
        .select(col("rid"), concat(expr("substring(nm, 1, k - 1)"),
          expr("substring(nm, k + 1, length(nm))")).as("rname"))
      // blockFn = the registry-number token: the blocking dial in action —
      // first-char blocking over an 8-adjective vocabulary puts ~1/24 of
      // each side in every block (quadratic pain at sf0.1); the number
      // token cuts candidates ~500×. A perturbation that hits the number
      // itself blocks apart and goes unmatched — the documented recall
      // trade every blocking choice makes
      Linkage.bestMatches(l, r, "lid", "rid", "lname", "rname", minSim = 0.9,
        blockFn = c => element_at(split(c, " "), -1))
    }),

    // perceptual image near-dup (the crawl pipeline's image-content
    // dedup: resized/re-encoded/brightness-shifted variants of one
    // picture collapse to one keeper). REAL PNGs with formula-patterned
    // 8×8 blocks → real javax.imageio decode → exact-integer aHash →
    // banded Hamming pairs (q28's block-pair machinery over the hash
    // column) → connected components → keep-min decision. The oracle
    // replays the synthesis formulas + all-group-pairs Hamming ≤ 3 +
    // recursive-CTE components: a hash match certifies decode, hash
    // arithmetic, banding recall, and the component decision together
    "q171_image_phash_dedup" -> ((s, d) =>
      Multimodal.phashDedup(
        Multimodal.perceptualHash(
          Multimodal.synthesizeNearDupImages(Tables.documents(s, d), "doc_id"),
          ImageIoCodec),
        maxDist = 3)),

    // perceptual AUDIO near-dup (the q171 move for the second real
    // modality: loudness-normalized/re-encoded clips collapse to one
    // keeper): real WAVs with formula energy envelopes → real
    // javax.sound decode → exact-integer 64-window envelope fingerprint
    // → the SAME banding/component/keep-min machinery as q171 (the
    // signature column is modality-agnostic — phashDedup unchanged)
    "q175_audio_fp_dedup" -> ((s, d) =>
      Multimodal.phashDedup(
        Multimodal.audioFingerprint(
          Multimodal.synthesizeNearDupAudio(Tables.documents(s, d), "doc_id"),
          AudioWavCodec),
        maxDist = 3)),

    // perceptual VIDEO near-dup (the third modality — re-encoded/
    // re-exposed clips collapse to one keeper): real 5-frame animated
    // GIFs with formula per-frame block patterns → real multi-frame
    // ImageIO decode (one reader per clip) → per-frame exact-integer
    // aHash → strict-majority clip fold → the SAME banding/component/
    // keep-min machinery as q171/q175. Sampled frames each carry one
    // distinct noise-bit flip (majority recovers the member bits
    // exactly) and UNSAMPLED frames are inverted decoys, so "hash frame
    // 0 only" or a wrong stride fails the oracle hash
    "q176_video_phash_dedup" -> ((s, d) =>
      Multimodal.phashDedup(
        Multimodal.videoSignature(
          Multimodal.synthesizeNearDupVideos(Tables.documents(s, d), "doc_id"),
          GifFrameCodec, everyNth = 2),
        maxDist = 3)),

    // Dolma-breadth PII scrub (the q53 stack widened with IPv4 + Luhn-
    // validated card numbers): per doc, synthesize formula PII — an
    // octet-formula IP, a VALID 16-digit card (check digit computed by
    // the same Luhn arithmetic the redactor validates with), and an
    // invalid twin (check+5) that must fall through to the coarse phone
    // rule, never the card token. The oracle replays synthesis AND the
    // five-stage scrub, so the hash certifies ordering, validation
    // arithmetic, and every regex in the RE2∩Java subset
    "q172_pii_redaction" -> ((s, d) => {
      val id = col("doc_id")
      val ip = concat_ws(".", pmod(id * 7, lit(256)), pmod(id * 13, lit(256)),
        pmod(id * 3, lit(256)), pmod(id, lit(256)))
      val d15 = transform(sequence(lit(1), lit(15)),
        i => pmod(id * i + i * i, lit(10)))
      val luhnSum = aggregate(sequence(lit(1), lit(15)), lit(0L), (acc, i) => {
        val dd = pmod(id * i + i * i, lit(10))
        acc + when(pmod(i, lit(2)) === 1,
          when(dd * 2 > 9, dd * 2 - 9).otherwise(dd * 2)).otherwise(dd)
      })
      val chk = pmod(lit(10) - pmod(luhnSum, lit(10)), lit(10))
      val digits = concat(array_join(transform(d15, _.cast("string")), ""))
      def fmt(c16: Column): Column = concat_ws(" ",
        substring(c16, 1, 4), substring(c16, 5, 4),
        substring(c16, 9, 4), substring(c16, 13, 4))
      val good = fmt(concat(digits, chk.cast("string")))
      val bad = fmt(concat(digits, pmod(chk + 5, lit(10)).cast("string")))
      Tables.documents(s, d).select(id,
        TextAnalysis.cleanForTrainingFull(
          concat(col("text"), lit(" contact: user"), id.cast("string"),
            lit("@example.com ip "), ip, lit(" card "), good,
            lit(" ref "), bad, lit(" tel: +263 771 23 45 67"))).as("clean"))
    }),

    // the INCREMENTAL face of q154 (the bloom-gate pattern at substring
    // granularity): even doc_ids play history — their duplicated grams
    // become the standing index (dupGramIndex) — and odd doc_ids play
    // the increment, gated by stripKnownSpans: hash-probe + exact string
    // confirm against the index, history text never re-scanned. The
    // oracle replays the whole contract in string SQL: grams duplicated
    // among EVENS only, odd docs' interval cover against that set
    "q157_known_span_strip" -> ((s, d) => {
      val all = Tables.documents(s, d)
        .select(col("doc_id"),
          synthDupSpanText(col("doc_id"), col("text")).as("text"))
      val history = all.where(pmod(col("doc_id"), lit(2)) === 0)
      val increment = all.where(pmod(col("doc_id"), lit(2)) === 1)
      val index = Dedup.dupGramIndex(history, "doc_id", "text", k = 8)
      Dedup.stripKnownSpans(increment, "doc_id", "text", index, k = 8)
    }),

    // EXACT top-k heavy hitters with bounded state: per-partition
    // Misra–Gries candidates (the full-cardinality groupBy that would
    // shuffle every key at 100 TB never runs), exact confirm over the
    // candidate plan constant, fail-fast certificate that the k-th
    // count clears the undetected-key bound. The oracle is the naive
    // exact GROUP BY the operator provably equals
    "q156_heavy_hitters" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(synthSkewKey(col("event_id")).as("key"))
      Summaries.heavyHitters(ev, "key", k = 8, capacity = 64)
    }),

    // BPE tokenizer TRAINING: one corpus-sized word-count job lands the
    // dictionary, which fits under the driver cap, so the 8 merges run
    // on the driver (jobs do not grow with the merge count); the DuckDB
    // oracle replays the strictly SEQUENTIAL unrolled-CTE trainer
    "q137_bpe_train" -> ((s, d) =>
      Quality.bpeTrain(Tables.documents(s, d), "text", numMerges = 8)),

    // q137's trainer at a deeper 12-merge unroll of the oracle's
    // sequential reference (same bpeTrain, same driver-side branch)
    "q145_bpe_train_local" -> ((s, d) =>
      Quality.bpeTrain(Tables.documents(s, d), "text", numMerges = 12)),

    // BPE merge-selection seed: top-50 adjacent-codepoint pairs with
    // corpus occurrence counts, counted over the distinct-word frequency
    // dictionary (collapse-first — how reference BPE trainers count)
    "q136_bpe_pair_counts" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Quality.bpePairCounts(Tables.documents(s, d), "text", topK = 50)
    }),

    // code-point entropy profile: the gibberish/boilerplate tail signal
    // (ONE codegen kernel pass, zero shuffles, streaming-safe)
    "q135_char_entropy" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Quality.charEntropyProfile(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("n_cp"),
          col("n_distinct_cp"), col("char_entropy"))
    }),

    // corpus-LEVEL MinHash similarity: estimated + exact Jaccard of two
    // sources' 3-gram shingle sets in one row — dataset diffing without
    // pairwise document work (the estimate path is two zero-shuffle
    // global aggs; the exact yardstick pays one distinct per side)
    "q134_corpus_similarity" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      NearDup.corpusShingleSimilarity(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") === "src1"),
        "text", "text", n = 3, numHashes = 32)
    }),

    // the fluency upgrade of q65: capped bigram LM with unigram-backoff
    // interpolation — word ORDER now matters (a unigram LM scores
    // shuffled text identically; spec-pinned). One context-stream pass
    // with all three model tables broadcast
    "q133_bigram_logprob" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d)
      Quality.bigramLogProb(docs, "doc_id", "text",
        Quality.bigramVocab(docs, "text", maxBigrams = 256, maxVocab = 24))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_tokens"), col("mean_logprob"))
    }),

    // trigram interpolated-backoff fluency (the q133 ceiling raised one
    // order): unseen/cap-evicted triples fall back toward the bigram,
    // which backs off toward the unigram — collaged text that keeps
    // plausible PAIRS still breaks triple continuity. Same caps family
    // as q133 (+512 trigram table) so the oracle's CTE replay stays
    // tractable; the oracle replays the full context-stream chain with
    // the trigram CONTEXT read from the SAME capped pair table
    // zlib compression profile (rows-only in the driver's gate — an
    // external SQL engine cannot replay deflate, so correctness is
    // SPEC-pinned in ZlibSpec: reference recompute, tail ordering,
    // determinism, null shape; the HLL-sketch precedent). In the bench
    // as a normal operator row: one kernel projection, zero shuffles
    "q174_zlib_profile" -> ((s, d) =>
      Quality.compressionProfile(Tables.documents(s, d), "doc_id", "text")),

    "q173_trigram_logprob" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d)
      Quality.trigramLogProb(docs, "doc_id", "text",
        Quality.trigramVocab(docs, "text", maxTrigrams = 512,
          maxBigrams = 256, maxVocab = 24))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_tokens"), col("mean_logprob"))
    }),

    // END-TO-END curation-chain certification (the r19 verdict's q177-
    // class ask): URL gate → HTML extract → unicode normalize → langid
    // gate → gopher gate → corpus exact dedup → near-dup gate → token-
    // budget mix, composed as ONE plan and replayed stage-by-stage in
    // DuckDB — stage outputs can disagree with the composition only
    // through plan bugs, which is exactly what this row catches. See
    // [[curationChainStages]] for the stage bodies and the one-scan
    // contract (CurationChainSpec pins it)
    "q178_curation_chain" -> ((s, d) => curationChainStages(s, d)._2),

    // Kneser-Ney trigram fluency score (the public-STANDARD smoothing
    // next to q173's absolute-count backoff lite): continuation TYPE
    // counts at the lower orders, fixed discount 0.75, everything
    // derived from the SAME capped tables as exact folds — the oracle
    // replays the capped-table build, the continuation aggregations,
    // AND the per-token three-level formula, so a hash match certifies
    // the whole KN chain
    "q177_trigram_kn" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d)
      Quality.trigramLogProbKN(docs, "doc_id", "text",
        Quality.trigramVocab(docs, "text", maxTrigrams = 512,
          maxBigrams = 256, maxVocab = 24))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_tokens"), col("mean_logprob"))
    }),

    // the q133 BIGRAM VOCAB BUILD in isolation (the r15 verdict's pin:
    // q133's per-run cost is this build's ONE data-sized (prev,tok)
    // shuffle, but its 9-53 s noise band at 100× had no probe separating
    // it from the scoring kernel — GRAFT_BENCH_ONLY=q133,q149 now
    // records the build-vs-score split). Same caps as q133; output is
    // the ranked top-bigram table itself (the q136 analog for bigrams —
    // a first-class LM artifact, fully oracled)
    "q149_bigram_vocab_build" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val (topF, _) = Quality.bigramVocabFrames(Tables.documents(s, d),
        "text", maxBigrams = 256, maxVocab = 24)
      topF.select(posexplode(col("top")))
        .select(col("col.prev").as("prev"), col("col.tok").as("tok"),
          col("col.c").as("n"), (col("pos") + 1).cast("long").as("rank"))
    }),

    // incremental dedup primitive: every (increment src1, history) doc
    // pair sharing a word 3-gram, with jaccard + left containment —
    // thresholds are the caller's cut. COLLAPSE-FIRST default: pairs are
    // between exact-text representatives with group multiplicities
    // n_l/n_r riding along (dup-heavy increments would otherwise emit
    // d·e identical rows per duplicated pair); a join against each
    // side's exactTextMembership recovers the per-instance stream
    "q66_cross_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      NearDup.crossNgramPairs(
        docs.filter(col("source") === "src1"),
        docs.filter(col("source") =!= "src1"),
        "doc_id", "doc_id", "text", "text", n = 3)
        .select(col("id_l").cast("long").as("id_l"),
          col("id_r").cast("long").as("id_r"),
          col("jaccard"), col("containment_l"),
          col("n_l"), col("n_r"))
    }),

    // RAG/long-context chunking: 12-token windows, 3-token overlap —
    // one row per chunk with its index, text, and token count
    "q67_chunk_tokens" -> ((s, d) =>
      // explode_OUTER: plain explode would infer a size>0 filter below
      // the Generate, duplicating the whole chunking expression (the
      // q26/q59 trap); empty docs surface as one null chunk, dropped on
      // the GENERATED column
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode_outer(TextAnalysis.chunkTokens(col("text"), size = 12, overlap = 3)).as("ch"))
        .filter(col("ch").isNotNull)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("ch.chunk_idx").cast("int").as("chunk_idx"),
          col("ch.chunk_text").as("chunk_text"),
          col("ch.n_tok").cast("int").as("n_tok"))),

    // training-mix composition: per-language token budgets (en 3000,
    // de 1200; others dropped), id order, budget-crossing doc kept
    "q68_token_budget_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok"))
      Sampling.tokenBudgetMix(docs, col("lang"), Seq(col("doc_id")),
        col("n_tok"), Map("en" -> 3000L, "de" -> 1200L))
    }),

    // mix balancing: deterministic upsampling (de ×2.5, en ×1, zh ×0)
    // — whole repeats plus a hash-decided fractional copy, no RNG
    "q69_upsample_mix" -> ((s, d) =>
      Sampling.upsampleByFactor(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"),
        Map("de" -> 2.5, "zh" -> 0.0))
        .select(col("doc_id"), col("lang"), col("repeat").cast("int").as("repeat"))),

    // the full dedup decision: near-dup pairs → components → keep the
    // HIGHEST-quality doc per group (tie: smallest id); singletons survive
    // keep-best builds its components from the same collapsed edge
    // stream as q51 — identical component sets, linear edge volume
    "q70_dedup_keep_best" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.qualityScoreFast(col("text"), stopwords).as("quality"))
      val edges = NearDup.ngramJaccardComponentEdges(
        Tables.documents(s, d), "doc_id", "text", 7, 0.2)
      Dedup.keepBestPerComponent(docs, "doc_id", edges, col("quality"))
        .select(col("comp").cast("long").as("comp"),
          col("doc_id").cast("long").as("kept_doc_id"), col("quality"))
    }),

    // the neolab blood-culture episode summary (create_summary_neolab_sql):
    // test-uid scrub, keep-latest upload per (facility, uid, episode) with
    // the deliberate fan-out join back, per-episode culture census as a
    // groupBy join, the BCType LIKE-recode, and the CombinedResult CASE
    // family with a parameterized as-of date (events end 2024-01-30, so
    // the 5-day awaiting window is live for late uploads and expired for
    // early ones)
    "q71_neolab_episodes" -> ((s, d) => {
      val nl = Tables.events(s, d).select(
        when(pmod(col("user_id"), lit(29)) === 0,
            concat(lit("0000"), col("user_id").cast("string")))
          .when(pmod(col("user_id"), lit(31)) === 0,
            concat(lit("***"), col("user_id").cast("string")))
          .otherwise(col("user_id").cast("string")).as("uid"),
        concat(lit("F"), pmod(col("user_id"), lit(3))).as("facility"),
        (pmod(col("event_id"), lit(25)) + 1).as("episode"),
        date_format(col("ts"), "yyyy-MM-dd").as("DateBCR_value"),
        element_at(array(lit("GRAM STAIN PRELIMINARY"), lit("CULTURE FINAL"),
            lit("INTERIM"), lit(null).cast("string")),
          (pmod(col("event_id"), lit(4)) + 1).cast("int")).as("BCType_value"),
        element_at(array(lit("Pos"), lit("Neg"), lit("PC"), lit("NegP"),
            lit("PosP"), lit(null).cast("string")),
          (pmod(col("event_id"), lit(6)) + 1).cast("int")).as("BCResult_value"),
        when(pmod(col("event_id"), lit(5)) === 0, "CONS")
          .otherwise(concat(lit("ORG"), pmod(col("event_id"), lit(7)))).as("Org1_value"),
        concat(lit("Organism "), pmod(col("event_id"), lit(7))).as("Org1_label"),
        when(pmod(col("event_id"), lit(9)) === 0, "other-org")
          .otherwise(lit(null).cast("string")).as("OtherOrg1_value"),
        when(pmod(col("event_id"), lit(17)) === 0, "NaT")
          .otherwise(date_format(date_add(to_date(col("ts")), 1), "yyyy-MM-dd"))
          .as("DateBCT_value"))
      // timestamp, not date: the q41/q58 dataframe-bridge convention
      Neolab.episodeSummary(nl, lit("2024-01-31"))
        .withColumn("date_bct", col("date_bct").cast("timestamp"))
    }),

    // the SMCH legacy-era migration view (read_new_smch_discharges_query):
    // facility gate + either-date era window over STRICTLY validity-gated
    // date columns — the synth plants every garbage class the reference's
    // CASE enumerates (sentinel, empty, calendar-invalid 1995-13-45,
    // range-invalid year 0000, regex-failing 96/01/01)
    "q72_migration_view" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val disRaw = when(pmod(col("o_orderkey"), lit(6)) === 0, "NaT")
        .when(pmod(col("o_orderkey"), lit(6)) === 1, "")
        .when(pmod(col("o_orderkey"), lit(6)) === 2, "1995-13-45")
        .when(pmod(col("o_orderkey"), lit(6)) === 3, "0000-01-01")
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
      val deathRaw = when(pmod(col("o_orderkey"), lit(5)) === 0,
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd"))
        .when(pmod(col("o_orderkey"), lit(5)) === 1, "96/01/01")
        .otherwise(lit(null).cast("string"))
      val w = o.select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(3)) === 0, "SMCH").otherwise("OTH").as("facility"),
        disRaw.as("dis_raw"), deathRaw.as("death_raw"))
      Views.eraMigrationView(w, Seq("dis_raw", "death_raw"),
          col("facility") === "SMCH", lit("1995-06-01").cast("date"))
        .select(col("o_orderkey"), col("facility"),
          // timestamp, not date: the q41/q58 dataframe-bridge convention
          col("dis_raw").cast("timestamp").as("discharge_date"),
          col("death_raw").cast("timestamp").as("death_date"))
    }),

    // the Power-BI/DAX derived-column replication (create_derived_columns
    // .py): alias-gated weight ladder (BirthWeight→BW→Bw presence
    // fallback) with garbage-coercion → Unknown, the absent-field branch
    // (AW aliases missing → typed NULL columns), TempThermia ladder, the
    // LBWBinary DAX flag (NaN comparisons are False → coalesce false),
    // and the EXTERNALSOURCE cascade with its terminal default
    "q73_dax_derived" -> ((s, d) => {
      val base = Tables.customer(s, d).select(col("c_custkey"),
        when(pmod(col("c_custkey"), lit(13)) === 0, "garbage")
          .when(pmod(col("c_custkey"), lit(17)) === 0, "")
          .otherwise((pmod(col("c_custkey"), lit(50)) * 100).cast("string"))
          .as("BW_value"),
        when(pmod(col("c_custkey"), lit(11)) === 0, lit(null).cast("string"))
          .otherwise((lit(30.0) + pmod(col("c_custkey"), lit(13))).cast("string"))
          .as("Temperature_value"),
        when(pmod(col("c_custkey"), lit(4)) === 0, lit(null).cast("string"))
          .otherwise(lit("Ward A")).as("AdmittedFrom_value"),
        when(pmod(col("c_custkey"), lit(8)) < 2, lit(null).cast("string"))
          .otherwise(lit("Clinic B")).as("ReferredFrom_value"),
        when(pmod(col("c_custkey"), lit(16)) < 8, lit(null).cast("string"))
          .otherwise(lit("Clinic C")).as("ReferredFrom2_value"))
      val laddered = DeriveColumns.aliasedLadders(base, Seq(
        DeriveColumns.AliasedLadder(
          Seq("BirthWeight_value", "BW_value", "Bw_value"), "weight", "bw_group",
          Seq(1000.0 -> "ELBW", 1500.0 -> "VLBW", 2500.0 -> "LBW", 4000.0 -> "NBW"),
          lastLabel = "HBW"),
        DeriveColumns.AliasedLadder( // absent on purpose: the else-branch
          Seq("AdmissionWeight_value", "AW_value"), "adm_weight", "aw_group",
          Seq(1000.0 -> "<1000g"), lastLabel = ">=1000g"),
        DeriveColumns.AliasedLadder(
          Seq("Temperature_value"), "temp", "temp_thermia",
          Seq(36.5 -> "Hypothermia", 37.5 -> "Normothermia"),
          lastLabel = "Hyperthermia")))
      laddered.select(col("c_custkey"), col("weight"), col("bw_group"),
        col("adm_weight"), col("aw_group"), col("temp_thermia"),
        coalesce(col("weight") > 0 && col("weight") < 2500, lit(false))
          .cast("int").as("lbw_binary"),
        DeriveColumns.cascadeSource(
          Seq(col("AdmittedFrom_value"), col("ReferredFrom_value"),
            col("ReferredFrom2_value")), lit("External Referral"))
          .as("external_source"))
    }),

    // Dolma/RefinedWeb-style paragraph-level exact dedup: the corpus's
    // word streams are paragraphed into 6-word windows (the synth text has
    // no natural breaks), every later repeat of a paragraph seen earlier
    // (by (doc_id, idx)) is removed, docs reassemble from what survives
    "q74_paragraph_dedup" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      // let-binding rule: w referenced per chunk in the slice
      val paraText = transform(array(split(col("text"), " ")),
        w => array_join(
          transform(sequence(lit(0), ceil(size(w) / lit(6.0)).cast("int") - 1),
            i => array_join(slice(w, i * 6 + 1, lit(6)), " ")), "\n\n"))
        .getItem(0)
      val paraDocs = Tables.documents(s, d)
        .select(col("doc_id"), paraText.as("text"))
      Dedup.dedupParagraphs(paraDocs, "doc_id", "text")
        .select(col("doc_id"), col("n_paras"), col("n_kept"), col("clean_text"))
    }),

    // cluster-balanced diversity sampling: every semantic cluster (the
    // q37/q63 stride-centroid pool) contributes at most 5 vectors — the
    // most central ones — so no single semantic region dominates a mix
    "q75_cluster_sample" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.clusterBalancedSample(emb, "vec_id", "embedding",
        Ann.strideCentroids(emb, "vec_id", "embedding", 16), perCluster = 5)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("cid").cast("int").as("cid"), col("dist"), col("rank"))
    }),

    // dataset-card categorical profile: exact distinct/null census + the
    // top-3 most frequent values per label column, in one value-count pass
    "q76_categorical_profile" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Summaries.categoricalProfile(Tables.documents(s, d), Seq("lang", "source"), k = 3)
    }),

    // temperature-balanced (α = 0.5) multilingual mix: keep fractions
    // computed from observed lang sizes upweight small languages, then
    // the deterministic md5 hash filter samples, so the
    // oracle replays the exact keep set
    "q77_temperature_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val fr = Sampling.temperatureFractions(docs, col("lang"), total = 150, alpha = 0.5)
      Sampling.stratifiedFractions(docs.select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"), fr)
    }),

    // exact-substring duplication: maximal shared token spans >= 12 via
    // 8-token positional shingles merged along match diagonals — the
    // Spark-first stand-in for a suffix-array repeated-substring pass.
    // COLLAPSE-FIRST default: spans are mined over DISTINCT texts (reps =
    // min doc_id, multiplicities n_a/n_b; self-span rows id_a == id_b for
    // duplicated texts) — the d·(d−1)/2 per-instance explosion on
    // replica-heavy corpora becomes an explicit join against
    // exactTextMembership
    "q78_shared_spans" -> ((s, d) =>
      NearDup.sharedSpans(Tables.documents(s, d), "doc_id", "text", n = 8, minSpan = 12)),

    // Gopher-rules quality gate with audit trail: signals + failed-rule
    // names + keep verdict as one shuffle-free projection (thresholds
    // tuned to the synth distribution so both verdicts occur)
    "q79_gopher_filter" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Quality.gopherFilter(Tables.documents(s, d), "doc_id", "text", stopwords,
        minWords = 30, maxWords = 90, minMeanLen = 3.0, maxMeanLen = 5.0,
        maxSymbolRatio = 0.1, minStopRatio = 0.02)
    }),

    // WITHIN-doc repeated-paragraph scrub (local complement of q74's
    // corpus-wide dedup): same 6-word paragraphing, but only a doc's own
    // earlier paragraphs suppress a repeat — pure shuffle-free projection
    "q80_local_para_dedup" -> ((s, d) => {
      // NULL text = empty text (the q74 paragraph-family rule): the doc
      // keeps a row with one empty paragraph instead of NULL fields here
      // vs vanishing in the oracle's LATERAL unnest
      // let-binding rule: w referenced per chunk in the slice
      val paraText = transform(array(split(coalesce(col("text"), lit("")), " ")),
        w => array_join(
          transform(sequence(lit(0), ceil(size(w) / lit(6.0)).cast("int") - 1),
            i => array_join(slice(w, i * 6 + 1, lit(6)), " ")), "\n\n"))
        .getItem(0)
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.dropRepeatedParagraphs(paraText).as("r"))
        .select(col("doc_id"), col("r.n_paras"), col("r.n_kept"), col("r.clean_text"))
    }),

    // Moore-Lewis data selection: cross-entropy difference under the
    // en-corpus LM vs the whole-corpus LM (both capped at 24 tokens like
    // q65), one token pass with both vocabularies broadcast
    "q81_moore_lewis" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val inV = Quality.unigramVocab(docs.filter(col("lang") === "en"), "text", maxVocab = 24)
      val genV = Quality.unigramVocab(docs, "text", maxVocab = 24)
      Quality.mooreLewisScore(docs, "doc_id", "text", inV, genV)
        .select(col("doc_id").cast("long").as("doc_id"), col("n_tokens"),
          col("mean_logprob_in"), col("mean_logprob_gen"), col("ml_score"))
    }),

    // As-of join: each view event picks the user's latest click at-or-
    // before it, but only within a 1-hour lookback — the point-in-time
    // lookup pattern (last reading before an admission, last price before
    // a trade) as a single-shuffle merge window, not a theta-join
    "q82_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
      Joins.asOf(views, clicks, Seq("user_id"), "ts", "ts",
          Seq("event_id", "value"), tieCol = "event_id",
          tolerance = Some(expr("INTERVAL 1 HOUR")))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_ts"), col("asof_event_id"), col("asof_value"))
    }),

    // Binned range join, KEYLESS: every click inside any error's 15-min
    // incident window — the interval-overlap shape Spark's planner can
    // only do as a nested-loop; binning turns it into an equi-join on
    // the time bucket
    "q83_range_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("err_ts"),
          (col("ts") + expr("INTERVAL 15 MINUTE")).as("err_end"))
      val clk = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
          col("user_id"))
      Joins.rangeJoin(clk, err, Seq.empty, "click_ts", "err_ts", "err_end",
          bucketWidthSec = 900)
        .select(col("err_id"), col("click_id"), col("user_id"))
    }),

    // Forward-fill: error readings are bad sensor values — carry each
    // user's last good reading forward in time order (LOCF gap-fill)
    "q84_forward_fill" -> ((s, d) => {
      val e = Tables.events(s, d)
      val flagged = e.select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") =!= "error", col("value")).as("value"))
      Windows.forwardFill(flagged, Seq("user_id"),
          Seq(col("ts"), col("event_id")), Seq("value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("value_filled"))
    }),

    // Incremental exact-dedup gate: an ingest batch (fresh docs + some
    // re-uploads under new ids) is flagged against the already-ingested
    // history via a bloom prefilter + exact confirm — history never
    // shuffles, only the maybe-dup keys travel
    "q85_bloom_dedup_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val hist = docs.filter(col("doc_id") < 400)
      val inc = docs.filter(col("doc_id") >= 400)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      Dedup.bloomGate(inc, hist, "text", expectedItems = 1L << 16)
        .select(col("doc_id"),
          col("is_new").cast("int").as("is_new"))
    }),

    // PMI collocation mining: top adjacent word pairs by pointwise mutual
    // information with an occurrence floor — phrase detection over the
    // corpus (multi-word units worth single-token treatment)
    "q86_collocations" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Quality.collocations(docs, "text", minCount = 5, topK = 100)
    }),

    // CCNet-style perplexity bucketing: head/middle/tail thirds by
    // LM-score quantile — cutoffs are two scalar narrowing passes, the
    // bucketing itself a plan-constant projection (no corpus rank window)
    "q89_perplexity_buckets" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Quality.perplexityBuckets(docs, "doc_id", "text",
        Quality.unigramVocab(docs, "text", maxVocab = 24))
    }),

    // Top session paths: most common first-8-event sequences across
    // gap-split sessions — one session window, one path agg, global heap
    "q99_top_paths" -> ((s, d) =>
      Funnel.topPaths(Tables.events(s, d).select("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type")),

    // Markov transition matrix: consecutive-event (from → to) counts and
    // conditional probabilities per entity timeline
    "q100_transitions" -> ((s, d) =>
      Funnel.transitionMatrix(
        Tables.events(s, d).select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type")),

    // BM25 ranked retrieval: top-20 docs for a fixed query — corpus
    // stats and idf are plan constants, one filtered token pass, global
    // bounded-heap top-k
    "q98_bm25_topk" -> ((s, d) =>
      Quality.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "query"))),

    // Ordered funnel: view → click → purchase progression per user, each
    // step strictly after the previous; all shuffles share hash(user_id)
    "q96_funnel" -> ((s, d) => {
      val e = Tables.events(s, d)
      Funnel.funnelSteps(e.select("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
    }),

    // Weekly cohort-retention triangle: cohort by first-event week,
    // activity cells with cohort sizes for rate computation
    "q97_cohort_retention" -> ((s, d) =>
      // date → string for the oracle compare (DuckDB DATEs surface as
      // timestamps through pandas); the operator itself keeps DateType
      Summaries.cohortRetention(Tables.events(s, d), "user_id", "ts")
        .withColumn("cohort_week", col("cohort_week").cast("string"))),

    // Product-quantized ANN: corpus compressed to 8 subspace codes per
    // vector (codebooks = a 16-centroid stride pool sliced), ADC top-5 per
    // query — the scan reads codes, never vectors
    "q95_ann_pq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cbs = Ann.pqCodebooks(
        Ann.strideCentroids(e, "vec_id", "embedding", nCentroids = 16), m = 8)
      val codes = Ann.pqEncode(e, "vec_id", "embedding", cbs)
      Ann.pqTopK(e.filter(pmod(col("vec_id"), lit(50)) === 0), codes,
        "vec_id", "embedding", cbs, k = 5)
    }),

    // Inverted index: term → document-frequency stats + top-10 postings
    // by tf — two hash aggs + bounded heap, no joins, no windows
    "q94_inverted_index" -> ((s, d) =>
      Quality.invertedIndex(Tables.documents(s, d), "doc_id", "text")),

    // Exact-k deterministic stratified sample: each language keeps its
    // 40 smallest-hash docs — bounded-heap agg, no window sort
    "q93_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedExactK(
          Tables.documents(s, d).select("doc_id", "lang", "text"),
          col("lang"), col("doc_id"), k = 40)
        .select("doc_id", "lang", "rank")),

    // Sliding time-window stats: per-user trailing-1h event count and
    // mean value at every event — one key shuffle, incremental RANGE frame
    "q92_sliding_stats" -> ((s, d) => {
      val e = Tables.events(s, d)
      Windows.slidingRangeStats(
          e.select("event_id", "user_id", "ts", "value"),
          Seq("user_id"), col("ts"), col("value"), windowSec = 3600,
          nName = "n_1h", avgName = "avg_1h")
        .select("event_id", "user_id", "ts", "n_1h", "avg_1h")
    }),

    // SCD type-2 history build: the events change-log collapsed into
    // half-open validity intervals per user — one exchange end-to-end
    "q91_scd2_history" -> ((s, d) => {
      val e = Tables.events(s, d)
      Windows.scd2Intervals(e.select("user_id", "event_type", "ts", "event_id"),
        Seq("user_id"), Seq(col("ts"), col("event_id")),
        Seq("event_type"), col("ts"))
    }),

    // fastText-style hashed linear quality classifier: weights ride the
    // plan as an array literal — one projection + one per-doc agg, zero
    // joins/broadcasts at any corpus size
    "q90_quality_classifier" -> ((s, d) =>
      Quality.hashedLinearScore(Tables.documents(s, d), "doc_id", "text",
        Quality.demoWeights(64))),

    // TF-IDF keyword extraction: top-5 terms per document by normalized
    // term frequency × inverse document frequency
    "q88_tfidf_terms" -> ((s, d) =>
      Quality.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", topK = 5)),

    // OLAP rollup: counts + quantity totals at every (returnflag,
    // linestatus) prefix level plus the grand total in one result —
    // two-phase so the Expand multiplies the AGGREGATE, not the scan
    "q101_rollup_summary" -> ((s, d) =>
      Summaries.rollupSummary(Tables.lineitem(s, d),
        Seq("l_returnflag", "l_linestatus"), col("l_quantity"))),

    // Recall@5 of the q31 LSH index against the q30 exact yardstick —
    // the measure-your-index-before-trusting-it evaluator
    // Cross-split leakage audit: near-dup mass that straddles train/val/
    // test — eval contamination by near-duplicates, the check a curation
    // pipeline runs after assigning splits. Collapse-first (the r10
    // verdict's last dup-quadratic): pairs come as REPRESENTATIVE rows
    // from ngramJaccardRepPairs, each group's members aggregate to a
    // per-split histogram (split is a pure codegen projection of the id),
    // and the audit emits one row per (rep pair × split combo) with the
    // per-instance pair count as n_pairs — linear in distinct-text pairs
    // where the per-instance stream is quadratic in dup-group size
    // (13.1 s → 48.0 s at 100→300× measured on the old form). Self rows
    // (id_a == id_b) are intra-group leakage: identical texts split apart.
    "q108_split_leakage" -> ((s, d) => {
      val sp = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
      val docs = Tables.documents(s, d)
      val reps = NearDup.ngramJaccardRepPairs(docs, "doc_id", "text", 7, 0.2)
      val mem = NearDup.exactTextMembership(docs, "doc_id", "text", normalize = true)
      val hist = Sampling.assignSplit(mem, col("id"), sp,
          outCol = "split")
        .groupBy(col("rid"), col("split")).agg(count(lit(1)).as("cnt"))
      val ha = hist.select(col("rid").as("id_a"), col("split").as("split_a"),
        col("cnt").as("__ca"))
      val hb = hist.select(col("rid").as("id_b"), col("split").as("split_b"),
        col("cnt").as("__cb"))
      val inter = reps.filter(col("id_a") =!= col("id_b"))
        .join(ha, Seq("id_a")).join(hb, Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
      val intra = reps.filter(col("id_a") === col("id_b"))
        .join(ha, Seq("id_a")).join(hb, Seq("id_b"))
        .filter(col("split_a") < col("split_b"))
      inter.unionByName(intra)
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          (col("__ca") * col("__cb")).as("n_pairs"), col("jaccard"))
    }),

    // Robust outlier census over events: median/MAD fences on the skewed
    // `value` (catches the heavy tail a mean/stddev rule would drag its
    // own fences toward) and the uniform `user_id` (the zero-outlier
    // control). Two fused narrowing batches + one counting agg, no
    // shuffle — column count doesn't multiply the passes
    "q109_mad_outliers" -> ((s, d) =>
      Summaries.madOutliers(Tables.events(s, d), Seq("value", "user_id"))),

    // Two-sample Kolmogorov-Smirnov drift between the even/odd orderkey
    // halves — the binning-free twin of q104's PSI (same cohorts, same
    // columns): distinct-value counts → range-partitioned distributed
    // prefix-sum → running-max fold; no single-task ECDF sort at any
    // cardinality
    "q110_ks_drift" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      Summaries.ksDrift(
        li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
        li.filter(pmod(col("l_orderkey"), lit(2)) === 1),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
    }),

    // Per-language vocabulary census: token totals, type counts, hapax
    // ratio, top-20 coverage — the corpus-composition overview behind a
    // training-mix decision. ONE data-sized shuffle ((lang, token)
    // counts with map-side combine); ranking runs over types, not tokens
    "q111_vocab_census" -> ((s, d) =>
      Quality.vocabCensus(Tables.documents(s, d), "lang", "text", topK = 20)),

    // Deterministic global shuffle + sharding of the publish order:
    // shard and within-shard position are pure functions of doc_id
    // (md5 uniforms, independent seeds), so the tokenizer-feed
    // order reproduces across reruns, engines, and cluster sizes — the
    // orderBy(rand()) anti-pattern made restart-safe. One shuffle, keyed
    // by shard
    "q112_shard_manifest" -> ((s, d) =>
      Sampling.shardManifest(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        col("doc_id"), nShards = 8)),

    // Snapshot-level CDC: key-level diff of two publishes (added /
    // removed / changed + exactly WHICH columns changed) — how a
    // consumer turns whole-table republish into increments. One
    // full-outer shuffle join on the key, codegen column comparison.
    // Simulated next-snapshot: %13 keys new, %11 keys dropped, %7 keys
    // repriced
    "q115_snapshot_diff" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val oldSnap = o.filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
      val newSnap = o.filter(pmod(col("o_orderkey"), lit(11)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(7)) === 0,
            round(col("o_totalprice") * 1.1, 2)).otherwise(col("o_totalprice")))
      Cdc.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("change"),
          array_join(col("changed_cols"), ",").as("changed_cols"))
    }),

    // Rank (quantile) normalization of event values per type — the
    // distribution-free feature transform; ties share a rank, NULLs
    // excluded from the window (rank slots must not depend on an
    // engine's NULL sort order)
    "q116_quantile_normalize" -> ((s, d) =>
      Windows.rankNormalize(
        Tables.events(s, d).select("event_id", "event_type", "value"),
        Seq("event_type"), col("value"))),

    // Weighted deterministic exact-k per language: inclusion probability
    // scales with n_chars (the A-ES weighted-reservoir key u^(1/w)) —
    // "sample the mix toward substantial documents" as one bounded-heap
    // aggregation, reproducible across engines and corpus growth
    "q114_weighted_sample" -> ((s, d) =>
      Sampling.weightedExactK(
          Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          col("lang"), col("doc_id"), col("n_chars"), k = 15)
        .select("doc_id", "lang", "n_chars", "rank")),

    // IVF-PQ: the coarse index gates WHICH codes score, PQ compresses
    // WHAT gets scored — q95's full-code ADC scan restricted to each
    // query's nProbe probed cells (the FAISS IVFPQ composition; ~k/nProbe
    // of the scan for the same code budget). Same auto-sized learned
    // coarse centroids as q37, same stride codebooks as q95
    "q113_ann_ivfpq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cbs = Ann.pqCodebooks(
        Ann.strideCentroids(e, "vec_id", "embedding", nCentroids = 16), m = 8)
      Ann.ivfPqTopK(e.filter(pmod(col("vec_id"), lit(50)) === 0), e,
        "vec_id", "embedding", Ann.autoCentroids(e, "vec_id", "embedding"),
        cbs, k = 5, nProbe = 4)
    }),

    // Composed dataset card over documents: numeric stats + categorical
    // top-k + equi-width/equi-depth histograms + PSI drift (vs the
    // even-doc_id half as reference) in ONE long-format summary table —
    // the published-baselines analogue; each section is its operator's
    // plan, the union adds no shuffle. exactMedians: the quantile vector
    // and the equi-depth cuts both come from the exact narrowing core
    "q107_dataset_card" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d)
      DatasetCard.build(docs,
        numericCols = Seq("n_chars"),
        categoricalCols = Seq("lang", "source"),
        topK = 3, histBins = 10, depthBins = 4,
        reference = Some(docs.filter(pmod(col("doc_id"), lit(2)) === 0)),
        psiBins = 10, exactMedians = true, outlierK = Some(3.0))
    }),

    // Curriculum feed order: equi-depth difficulty buckets on n_chars
    // (short→long), deterministic shuffle within each bucket via the
    // q112 shard machinery — the reproducible easy→hard training order
    "q131_curriculum" -> ((s, d) =>
      Sampling.curriculumManifest(
        Tables.documents(s, d).select("doc_id", "n_chars"),
        col("doc_id"), col("n_chars"), nBuckets = 4, nShards = 4)),

    // PRODUCTION ANN composition (FAISS IVFPQ + refine): learned coarse
    // centroids gate the scan, PQ codebooks TRAINED per-subspace on the
    // cell RESIDUALS (m=16) compress it, and the ADC top-25 candidates
    // are re-ranked with exact cosine (q113 stays the ADC-only knob
    // demo). ALL quantizer training — coarse count/stride/k-means, PQ
    // stride init, codebook refinement — runs on the deterministic 40%
    // sample (vec_id % 5 < 2): the 100 TB default (training passes over
    // the full corpus were the one scale-killer in this composition —
    // 539 s of the 300x probe; quantizer quality saturates on a sample,
    // recall within 0.06 of full-trained and >= 0.5 floor, both
    // spec-gated in ScaleOpsSpec — full-corpus training stays the
    // declared yardstick there). Scan/codes/refine still cover the full
    // corpus: everything downstream of the coarse gate touches codes,
    // then exactly queries×25 raw vectors
    "q132_ann_refined" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
      val train = e.filter(pmod(col("vec_id"), lit(5)) < 2)
      val coarse = Ann.autoCentroids(train, "vec_id", "embedding")
      val init = Ann.pqCodebooks(
        Ann.strideCentroids(train, "vec_id", "embedding", nCentroids = 16),
        m = 16)
      val books = Ann.pqTrainCodebooksExact(
        Ann.ivfResiduals(train, "vec_id", "embedding", coarse), "res", init,
        iters = 2)
      val cand = Ann.ivfPqTopK(q, e, "vec_id", "embedding", coarse, books,
        k = 25, nProbe = 4, residual = true)
      Ann.refineTopK(cand, q, e, "vec_id", "embedding", k = 5)
    }),

    // Peak-concurrency sweep over the q33 sessions — how many sessions
    // are simultaneously active at each boundary instant (end-exclusive):
    // per-instant net deltas (one shuffle) + the q110 distributed
    // prefix-sum — no window, no single-task sort
    "q130_concurrency" -> ((s, d) => {
      val sessions = Queries.all("q33_sessionize")(s, d)
      Windows.concurrency(sessions, "session_start", "session_end")
    }),

    // Graded contamination: every non-benchmark doc's 4-gram overlap
    // ratio vs the src0 benchmark — the thresholdable companion of
    // q59's binary gate; ONE corpus pass (kernel explode + broadcast
    // left join + one agg), short docs score NULL not 0
    "q129_contamination_score" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d)
      Quality.contaminationScore(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", n = 4)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_shingles"), col("n_hits"), col("contamination"))
    }),

    // Target-mix rebalance: sample documents to a declared lang
    // composition (largest-remainder allocation of 300 rows; the de
    // target deliberately exceeds its population so the availability
    // cap fires — shortfall NOT redistributed, the asked-for mix is the
    // contract). One bounded-heap agg, md5 id-hash order
    "q128_target_mix" -> ((s, d) =>
      Sampling.targetMix(Tables.documents(s, d).select("doc_id", "lang"),
        col("lang"), col("doc_id"),
        Seq(("en", 0.3), ("de", 0.4), ("es", 0.1), ("zh", 0.15), ("fr", 0.05)),
        totalK = 300)),

    // Per-language EXACT length quantiles — all groups × quantiles
    // through ONE fused narrowing batch over synthesized per-group
    // columns (no per-group percentile buffers, bounded driver memory)
    "q127_group_quantiles" -> ((s, d) =>
      Summaries.groupQuantiles(Tables.documents(s, d), "lang", "n_chars",
        Seq(0.25, 0.5, 0.75, 0.95))),

    // Incremental aggregate maintenance: the (day, type) rollup kept
    // up-to-date by MERGING yesterday's published partial aggregates
    // with the new increment's — no history rescan. The oracle computes
    // the rollup directly from ALL raw rows, so the correctness gate
    // itself proves incremental ≡ full recompute
    "q126_incremental_agg" -> ((s, d) => {
      val e = Tables.events(s, d).select(
        to_date(col("ts")).as("day"), col("event_type"),
        col("event_id"), col("value"))
      def rollup(part: DataFrame): DataFrame =
        part.groupBy(col("day"), col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(dec(col("value"))).as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
      val history = rollup(e.filter(pmod(col("event_id"), lit(2)) === 0))
      val increment = rollup(e.filter(pmod(col("event_id"), lit(2)) === 1))
      Cdc.mergeAdditive(Seq(history, increment), Seq("day", "event_type"),
          countCols = Seq("n"), sumCols = Seq("sum_value"),
          minCols = Seq("min_value"), maxCols = Seq("max_value"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"),
          col("sum_value").cast("double").as("sum_value"),
          col("min_value"), col("max_value"),
          round(col("sum_value").cast("double") / col("n"), 6).as("avg_value"))
    }),

    // Robust z-score of the heavy-tailed event value: (x − median)/
    // (1.4826·MAD) — the outlier-insensitive standardization; stats from
    // the q109 two-batch narrowing, transform a plan-constant projection
    "q125_robust_zscore" -> ((s, d) =>
      Summaries.robustZscore(
          Tables.events(s, d).select("event_id", "value"), Seq("value"))
        .select("event_id", "value", "value_rz")),

    // "Where did my data go": per-source dedup attrition — exact losses,
    // near-dup losses, survivors, retention. Stage 1 exact (min-id per
    // distinct text), stage 2 near-dup keep-best over REPRESENTATIVES
    // only (collapse-first); drops attribute to the dropped instance's
    // source
    "q124_dedup_attrition" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Dedup.attritionReport(Tables.documents(s, d), "doc_id", "text", "source",
        TextAnalysis.qualityScoreFast(col("text"), stopwords))
    }),

    // Recency-weighted engagement per user (half-life 7 days, reference
    // instant = the stream's max ts, one tiny agg): the freshness score
    // behind recency-aware sampling. Pure codegen decay projection +
    // ONE hash agg; 9-dp decimal term sums
    "q121_decayed_engagement" -> ((s, d) => {
      val e = Tables.events(s, d)
      val ref = e.agg(max(unix_micros(col("ts")))).head().getLong(0)
      Funnel.decayedEngagement(e, "user_id", "ts", "value", ref, halfLifeDays = 7.0)
    }),

    // Hybrid retrieval: BM25 keyword top-20 ⊕ exact cosine top-20 against
    // query vector 0, reciprocal-rank-fused (1/(60+rank)) — rank-only
    // fusion needs no score calibration between systems. Both lists are
    // post-retrieval tiny; fusion is one union + hash agg + bounded heap
    "q122_hybrid_rrf" -> ((s, d) => {
      val bm25 = Quality.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "query"), topK = 20).select(col("doc_id"), col("rank"))
      val e = Tables.embeddings(s, d)
      val cosR = Ann.bruteForceTopK(e.filter(col("vec_id") === 0), e,
          "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Quality.rrfFuse(Seq(bm25, cosR), topK = 15)
    }),

    // Label-distribution balance of `source` across the md5-hashed
    // train/val/test splits — the eval-representativeness audit. One
    // (split, label) count shuffle; entropy/gini as decimal term sums
    "q123_class_balance" -> ((s, d) => {
      val docs = Sampling.assignSplit(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        col("doc_id"), Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      Summaries.classBalance(docs, "split", "source")
    }),

    // Pearson correlation matrix over the lineitem measures — ONE global
    // aggregation computes all pairs' moment sums together (no
    // per-pair jobs, no shuffle); exact decimal sums, pure-double final
    // arithmetic. The card's numeric-association section
    "q117_corr_matrix" -> ((s, d) =>
      Summaries.correlationMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // Cramér's V between categorical document facets (lang × source ×
    // a 500-char length bucket) — all pairs ride one joint-count
    // shuffle; chi2 from observed cells only, decimal term sums
    "q118_cat_assoc" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("len_bucket",
        floor(col("n_chars") / 500).cast("string"))
      Summaries.categoricalAssociation(docs,
        Seq(("lang", "source"), ("lang", "len_bucket"), ("source", "len_bucket")))
    }),

    // Join pre-flight: profile customer ⋈ orders on custkey BEFORE
    // paying for it — exact inner-join output size, key overlap, hot-key
    // skew ratio, all from two distinct-key count aggs. Feeds the
    // journaled broadcast/AQE/salt decision rule
    "q119_join_preflight" -> ((s, d) =>
      Joins.keyProfile(Tables.customer(s, d), Tables.orders(s, d),
        "c_custkey", "o_custkey")),

    // Winsorize the heavy-tailed event value at the [p05, p95] cuts —
    // cuts via the fused exact-quantile narrowing (the 100 TB path),
    // clip as a plan-constant codegen projection
    "q120_winsorize" -> ((s, d) =>
      Summaries.winsorize(Tables.events(s, d).select("event_id", "value"),
          Seq("value"), pLo = 0.05, pHi = 0.95)
        .select("event_id", "value", "value_w")),

    "q106_ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val queries = e.filter(pmod(col("vec_id"), lit(50)) === 0)
      Ann.recallAtK(
        Ann.lshTopK(queries, e, "vec_id", "embedding", k = 5, nPlanes = 10),
        Ann.bruteForceTopK(queries, e, "vec_id", "embedding", k = 5), k = 5)
    }),

    // Edit-distance fuzzy self-join on 40-char document prefixes —
    // PassJoin segment blocking + exact levenshtein verify, no cross
    // join; catches the planted near-dup resubmissions
    "q105_fuzzy_match" -> ((s, d) => {
      val f = Tables.documents(s, d)
        .filter(col("text").isNotNull && length(col("text")) >= 40)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("prefix"))
      NearDup.editDistancePairs(f, "doc_id", "prefix", maxDist = 3)
    }),

    // PSI distribution drift between the even/odd order-key halves of
    // lineitem — reference-bounded bins, floor-guarded proportions,
    // decimal term sums; the production drift monitor
    "q104_psi_drift" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      Summaries.psiDrift(
        li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
        li.filter(pmod(col("l_orderkey"), lit(2)) === 1),
        Seq("l_quantity", "l_extendedprice", "l_discount"), nBins = 10)
    }),

    // Equi-depth (quartile) histograms of the q62 profile columns —
    // every column's cuts from one exactQuantilesPerColumn batch,
    // binning a plan-constant projection
    "q103_equidepth_bins" -> ((s, d) =>
      Summaries.equidepthBins(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount"), nBins = 4)),

    // Z-order clustering key over (user_id, value): both dims normalized
    // to the 256-cell grid from plan-constant min/max (one tiny agg at
    // build, the centroid-matrix pattern), then bit-interleaved — the
    // data-skipping key writeRangeClustered sorts files by
    "q102_zorder_key" -> ((s, d) => {
      val e = Tables.events(s, d)
      val b = e.agg(min(col("user_id").cast("double")), max(col("user_id").cast("double")),
        min(col("value")), max(col("value"))).head()
      val zx = Layout.normalizeToBits(col("user_id"), b.getDouble(0), b.getDouble(1), 8)
      val zy = Layout.normalizeToBits(col("value"), b.getDouble(2), b.getDouble(3), 8)
      e.select(col("event_id"), zx.as("zx"), zy.as("zy"))
        .withColumn("zkey", Layout.zorderKey(col("zx"), col("zy"), 8))
    }),

    // Equi-width histograms for the dataset card: distribution shape of
    // the q62 profile columns, one stats job + one binning pass
    "q87_histogram" -> ((s, d) =>
      Summaries.histogram(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount"), nBins = 10)),

    "q33_sessionize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val newSess = when(unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)) > 1800, 1L)
        .otherwise(lit(0L))
      val withIdx = e.withColumn("__new", coalesce(newSess, lit(0L)))
        .withColumn("session_idx", sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      withIdx.groupBy(col("user_id"), col("session_idx"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
    })
  )
}
