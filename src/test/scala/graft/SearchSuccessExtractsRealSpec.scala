package graft

import graft.runtime._

/** models/spark/search/success_by_relevance/search_success_prepare_extracts.sql
  * executed VERBATIM — the REGEXP_REPLACE-heavy extract stage of the
  * success_by_relevance chain (the aggregated tail is covered by
  * SearchSuccessRealSpec). Pins:
  *
  *  - the lateral column alias `search_category_id` (element_at(filter(
  *    payload.queryFilters['categoryId'].categories, NOT NULL), 1)) consumed
  *    by the same SELECT's CASE and COALESCE;
  *  - text/category/unknown search classification and the FIRST()-collapse
  *    of duplicate events per (device, type, query-or-category, date);
  *  - head/middle/tail query clustering: cumulative SUM OVER (ORDER BY freq
  *    DESC ROWS UNBOUNDED PRECEDING) vs total thirds, freq =
  *    COUNT(DISTINCT device_id, search_date) among Europe devices only —
  *    fixture frequencies 5,4,3,2,1,1 are all-distinct at the cluster
  *    boundaries so the ranking is deterministic (the two freq-1 ties both
  *    land in `tail` whichever order they take);
  *  - the 14-day search→click interval join, exclusive at both edges
  *    (a click the day BEFORE the search and a click exactly 14 days after
  *    both stay unmatched);
  *  - TRANSFORM(..., REGEXP_REPLACE(x, '^[0-9]+:', '')) category cleanup +
  *    ARRAY_CONTAINS relevance flag (NULL array ⇒ 0 via IF);
  *  - incremental insert_overwrite on search_date: the second run rewrites
  *    only the partitions its window produces — a partition older than the
  *    14-day lookback survives even though its source rows left the window.
  *
  * All dates are derived from the test clock: the verbatim first-run branch
  * filters on CURRENT_DATE() - 90 DAYS.
  */
class SearchSuccessExtractsRealSpec extends SparkSpec {
  import spark.implicits._

  // The verbatim SQL evaluates CURRENT_DATE() at execution while fixtures
  // pin `today` here — a run straddling UTC midnight shifts the 90-day /
  // last-7-days windows. `today` is a var so a retry can re-derive it; the
  // helper below retries the body ONCE iff the date rolled mid-attempt.
  private var today = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
  private def day(off: Long) = today.plusDays(off)
  private def d1Date = day(-5)   // d1's search day
  private def dOld = day(-20)    // outside run-2's 14-day lookback

  private def retryIfDateRolled(body: => Unit): Unit =
    try body
    catch {
      case _: Throwable
          if java.time.LocalDate.now(java.time.ZoneOffset.UTC) != today =>
        today = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
        body
    }

  private def msAt(d: java.time.LocalDate, hour: Int, min: Int = 0): Long =
    d.atTime(hour, min).toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  private val nullQf =
    "CAST(NULL AS MAP<STRING, STRUCT<categories: ARRAY<STRING>>>)"
  private val nullCtx =
    "CAST(NULL AS STRUCT<searchQuery: STRING, name: STRING, requestId: STRING, position: INT>)"

  private def evSearch(dev: String, d: java.time.LocalDate, hour: Int,
                       query: Option[String], cat: Option[String],
                       country: String): String = {
    val q = query.map(s => s"'$s'").getOrElse("CAST(NULL AS STRING)")
    val qf = cat.map(c => "MAP('categoryId', NAMED_STRUCT('categories', " +
      s"ARRAY(CAST(NULL AS STRING), '$c')))").getOrElse(nullQf)
    s"""SELECT '$dev' AS device_id, 'u_$dev' AS user_id,
       |  ${msAt(d, hour)}L AS event_ts, 'search' AS type,
       |  DATE'$d' AS partition_date,
       |  NAMED_STRUCT('query', $q, 'numResults', 42,
       |    'origin', NAMED_STRUCT('source', 'main'),
       |    'searchSessionId', 'ss1', 'searchRequestId', 'sr1',
       |    'productId', CAST(NULL AS STRING), 'queryFilters', $qf) AS payload,
       |  NAMED_STRUCT('pref_country', '$country', 'language', 'xx',
       |    'os_type', 'android') AS device,
       |  $nullCtx AS lastContext""".stripMargin
  }

  private def evClick(dev: String, d: java.time.LocalDate, hour: Int, min: Int,
                      typ: String, prod: String, ctxQuery: Option[String],
                      pos: Option[Int]): String = {
    val q = ctxQuery.map(s => s"'$s'").getOrElse("CAST(NULL AS STRING)")
    val p = pos.map(_.toString).getOrElse("CAST(NULL AS INT)")
    s"""SELECT '$dev' AS device_id, 'u_$dev' AS user_id,
       |  ${msAt(d, hour, min)}L AS event_ts, '$typ' AS type,
       |  DATE'$d' AS partition_date,
       |  NAMED_STRUCT('query', CAST(NULL AS STRING), 'numResults', 0,
       |    'origin', NAMED_STRUCT('source', 'main'),
       |    'searchSessionId', 'ss1', 'searchRequestId', 'sr1',
       |    'productId', '$prod', 'queryFilters', $nullQf) AS payload,
       |  NAMED_STRUCT('pref_country', 'de', 'language', 'xx',
       |    'os_type', 'android') AS device,
       |  NAMED_STRUCT('searchQuery', $q, 'name', 'search',
       |    'requestId', 'rq1', 'position', $p) AS lastContext""".stripMargin
  }

  // d3 pumps query frequencies (kept out of the final output by the
  // device_info inner join); d4 carries head/middle clusters INTO the output
  private def fixtureEvents(includeUnknown: Boolean): String = {
    val d3Freq =
      (0 until 4).map(i => evSearch("d3", day(-6 - i), 9, Some("popQ1"), None, "de")) ++
      (0 until 3).map(i => evSearch("d3", day(-6 - i), 9, Some("popQ2"), None, "de")) ++
      (0 until 3).map(i => evSearch("d3", day(-6 - i), 10, Some("q3"), None, "de")) ++
      (0 until 2).map(i => evSearch("d3", day(-6 - i), 11, Some("q4"), None, "de"))
    val d4 = Seq(
      evSearch("d4", d1Date, 9, Some("popQ1"), None, "de"),   // freq 4+1=5 → head
      evSearch("d4", d1Date, 10, Some("popQ2"), None, "de"))  // freq 3+1=4 → middle
    val d1Searches = Seq(
      evSearch("d1", d1Date, 12, Some("red shoes"), None, "de"),
      evSearch("d1", d1Date, 12, Some("red shoes"), None, "de"), // exact dup: FIRST-collapse
      evSearch("d1", d1Date, 13, None, Some("c9"), "de"),
      evSearch("d1", dOld, 12, Some("old query"), None, "de")) ++
      (if (includeUnknown) Seq(evSearch("d1", d1Date, 14, Some(""), None, "de")) else Nil)
    val d2 = Seq( // non-Europe country: must not pump 'red shoes' freq
      evSearch("d2", d1Date, 12, Some("red shoes"), None, "us"))
    val clicks = Seq(
      evClick("d1", day(-3), 11, 0, "productOpen", "p1", Some("red shoes"), Some(3)),
      evClick("d1", day(-3), 11, 5, "productToCart", "p1", Some("red shoes"), Some(3)),
      evClick("d1", day(-6), 10, 0, "productOpen", "p1", Some("red shoes"), Some(3)), // day BEFORE the search
      evClick("d1", d1Date.plusDays(14), 10, 0, "productOpen", "p1", None, None),     // exactly +14d: excluded
      evClick("d1", day(-2), 15, 0, "productPurchase", "p2", None, None))
    (d3Freq ++ d4 ++ d1Searches ++ d2 ++ clicks).mkString("\nUNION ALL\n")
  }

  test("REAL search_success_prepare_extracts.sql: classification, " +
       "clustering, interval clicks, category relevance, partition survival") {
    retryIfDateRolled {
    val sql = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "/root/reference/models/spark/search/success_by_relevance/" +
        "search_success_prepare_extracts.sql"))
    val model = SqlTemplater.sqlModelAuto("search_success_prepare_extracts",
      sql, Map.empty, Map("start_date_ymd" -> d1Date.toString,
        "end_date_ymd" -> day(-1).toString))
    model.materialization match {
      case Materialization.IncrementalInsertOverwrite(pb, _) =>
        assert(pb == Seq("search_date"))
      case other => fail(s"expected insert_overwrite, got $other")
    }

    var events = fixtureEvents(includeUnknown = true)
    val ctx = freshCtx(vars = Map("start_date_ymd" -> d1Date.toString,
      "end_date_ymd" -> day(-1).toString))
    ctx.sources.register("mart", "device_events")(s => s.sql(events))
    ctx.sources.register("mongo", "abu_core_catalog_daily_snapshot")(s => {
      import s.implicits._
      Seq(("c9", "Обувь"), ("c8", "Одежда")).toDF("_id", "nameRu")
    })
    ctx.sources.register("search", "actual_index_export")(s =>
      s.sql("""SELECT 'p1' AS id, ARRAY('12:c9', '7:c8') AS publicCategoriesExpAbV2
              |UNION ALL SELECT 'p2', ARRAY('3:c7')""".stripMargin))
    val countries = Model("gold_countries", ctx => {
      val s = ctx.spark; import s.implicits._
      Seq(("de", "de", "Europe"), ("us", "us", "Americas"))
        .toDF("country_code", "top_country_code", "region_name")
    }, Materialization.Table())
    val devices = Model("gold_active_devices_with_ephemeral", ctx => {
      val s = ctx.spark; import s.implicits._
      Seq(("d1", d1Date.toString, "de", day(-25).toString),
          ("d1", dOld.toString, "de", day(-25).toString),
          ("d4", d1Date.toString, "de", day(-10).toString))
        .toDF("device_id", "dm", "top_country_code", "jd")
        .selectExpr("device_id", "CAST(dm AS DATE) AS date_msk",
          "top_country_code", "CAST(jd AS DATE) AS join_date_msk")
    }, Materialization.Table())

    def run(vars: Map[String, String]): Unit =
      new DagRunner(Seq(countries, devices, model)).run(ctx.copy(vars = vars))
        .foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }

    run(ctx.vars)

    def snapshot() = ctx.ref("search_success_prepare_extracts")
      .selectExpr("search_type", "textQueryOrCategory", "product_id",
        "has_open", "has_to_cart_or_favorite", "has_to_cart", "has_purchase",
        "position", "frequency_cluster", "category_name", "category_relevance",
        "days_from_search_to_event")
      .as[(String, String, Option[String], Option[Int], Option[Int],
           Option[Int], Option[Int], Option[Int], Option[String],
           Option[String], Int, Option[Int])].collect().toSet

    val run1 = snapshot()
    assert(run1 == Set(
      // d1 text search × the two in-window click groups (p1 open+cart, p2 purchase)
      ("text_search", "red shoes", Some("p1"), Some(1), Some(1), Some(1), Some(0),
        Some(3), Some("tail"), None, 0, Some(2)),
      ("text_search", "red shoes", Some("p2"), Some(0), Some(0), Some(0), Some(1),
        None, Some("tail"), None, 0, Some(3)),
      // d1 category search: NULL query never matches a cluster row; the c9
      // category is IN p1's cleaned list (12:c9 → c9) but not p2's
      ("category_search", "c9", Some("p1"), Some(1), Some(1), Some(1), Some(0),
        Some(3), None, Some("Обувь"), 1, Some(2)),
      ("category_search", "c9", Some("p2"), Some(0), Some(0), Some(0), Some(1),
        None, None, Some("Обувь"), 0, Some(3)),
      // d1 unknown search (query = ''): no cluster row (only text_search
      // rows enter the frequency CTE)
      ("unknown_search", "", Some("p1"), Some(1), Some(1), Some(1), Some(0),
        Some(3), None, None, 0, Some(2)),
      ("unknown_search", "", Some("p2"), Some(0), Some(0), Some(0), Some(1),
        None, None, None, 0, Some(3)),
      // d1's old search: every click misses its 14-day window → bare row
      ("text_search", "old query", None, None, None, None, None,
        None, Some("tail"), None, 0, None),
      // d4 carries the head/middle clusters into the output; it has no
      // clicks of its own, so its rows are bare
      ("text_search", "popQ1", None, None, None, None, None,
        None, Some("head"), None, 0, None),
      ("text_search", "popQ2", None, None, None, None, None,
        None, Some("middle"), None, 0, None)), run1.toString)

    // run 2 (incremental, window [d1-14, d1+4)): the unknown search left the
    // source; the rewritten search_date=d1 partition drops its rows, while
    // the dOld partition — outside the lookback, absent from the increment's
    // output — must SURVIVE untouched
    events = fixtureEvents(includeUnknown = false)
    run(Map("start_date_ymd" -> d1Date.toString,
      "end_date_ymd" -> d1Date.plusDays(4).toString))
    val run2 = snapshot()
    assert(run2 == run1.filterNot(_._1 == "unknown_search"), run2.toString)

    // ---- the rest of the success_by_relevance chain, verbatim ----------
    // search_success_result.sql: a CTE literally named `join`, markup LEFT
    // JOIN on 4 keys, COALESCE(text_relevance, category_relevance),
    // NOW-relative is_last_7_days, DISTRIBUTE BY tail; unclicked rows carry
    // a NULL partition_date through insert_overwrite.
    // text_search_success_filter_for_markup.sql: purchase-gated text-search
    // filter + ORDER BY 1 tail.
    val resultModel = SqlTemplater.sqlModelAuto("search_success_result",
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        "/root/reference/models/spark/search/success_by_relevance/search_success_result.sql")),
      Map.empty, Map("start_date_ymd" -> d1Date.toString,
        "end_date_ymd" -> d1Date.plusDays(4).toString))
    val markupModel = SqlTemplater.sqlModelAuto("text_search_success_filter_for_markup",
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        "/root/reference/models/spark/search/success_by_relevance/" +
          "text_search_success_filter_for_markup.sql")),
      Map.empty, Map("start_date_ymd" -> d1Date.toString,
        "end_date_ymd" -> d1Date.plusDays(4).toString))
    assert(resultModel.deps == Seq("search_success_prepare_extracts") &&
      markupModel.deps == Seq("search_success_prepare_extracts"))
    // human markup exists for the purchased 'red shoes'→p2 pair only
    ctx.sources.register("search", "text_search_success_filter_marked_up")(s =>
      s.sql(s"""SELECT DATE'${d1Date.plusDays(3)}' AS partition_date,
               |  DATE'$d1Date' AS search_date, 'p2' AS product_id,
               |  'red shoes' AS query, 1 AS relevance""".stripMargin))
    run(Map("start_date_ymd" -> d1Date.toString,
      "end_date_ymd" -> d1Date.plusDays(4).toString)) // extracts already current
    new DagRunner(Seq(resultModel, markupModel)).run(ctx.copy(vars =
      Map("start_date_ymd" -> d1Date.toString,
        "end_date_ymd" -> d1Date.plusDays(4).toString)))
      .foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }

    val res = ctx.ref("search_success_result")
      .selectExpr("textQueryOrCategory", "product_id", "text_relevance",
        "relevance", "is_last_7_days", "CAST(partition_date AS STRING)")
      .as[(String, Option[String], Option[Int], Option[Int], Option[Boolean],
           Option[String])].collect().toSet
    assert(res == Set(
      // markup hit: human relevance wins; purchase day = partition
      ("red shoes", Some("p2"), Some(1), Some(1), Some(true),
        Some(d1Date.plusDays(3).toString)),
      ("red shoes", Some("p1"), None, Some(0), Some(true),
        Some(d1Date.plusDays(2).toString)),
      // category relevance falls through COALESCE (query NULL → no markup)
      ("c9", Some("p1"), None, Some(1), Some(true),
        Some(d1Date.plusDays(2).toString)),
      ("c9", Some("p2"), None, Some(0), Some(true),
        Some(d1Date.plusDays(3).toString)),
      // 20-day-old search: outside the 7-day flag; no click → NULL partition
      ("old query", None, None, Some(0), Some(false), None),
      ("popQ1", None, None, Some(0), Some(true), None),
      ("popQ2", None, None, Some(0), Some(true), None)), res.toString)

    val mk = ctx.ref("text_search_success_filter_for_markup")
      .selectExpr("CAST(partition_date AS STRING)", "CAST(search_date AS STRING)",
        "query", "product_id", "searchRequestId")
      .as[(String, String, String, String, String)].collect().toSeq
    assert(mk == Seq((d1Date.plusDays(3).toString, d1Date.toString,
      "red shoes", "p2", "sr1")), mk.toString)
    }
  }
}
