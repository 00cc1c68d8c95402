package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.sql
import graft.functions.{CleanFns, ClosestLineUdf}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's string-cleaning layer (SURVEY §2.8 U1-U25, §2.9 AR-ops)
  * as driver-verifiable queries. Inputs are dirty strings synthesized
  * deterministically from the `part` table — the same synthesis expression
  * appears in the oracle SQL, so both engines clean identical inputs.
  *
  * Array-valued results are serialized with array_to_string/array_join —
  * list columns compare unreliably across parquet readers; strings don't.
  */
object CleaningQueries {

  /** Dirty price string (pipeline.py:142-150 inputs): valid "£90,009"-style
    * rows, plus 'POA' and 'Offers over …' invalids. */
  private def priceRaw: Column = {
    val priceInt = floor(col("p_retailprice") * 100).cast("long")
    when(col("p_partkey") % 7 === 0, lit("POA"))
      .when(col("p_partkey") % 7 === 1, lit("Offers over £500,000"))
      .otherwise(concat(lit("£"), format_number(priceInt, 0)))
  }
  private val priceRawSql =
    """CASE WHEN p_partkey % 7 = 0 THEN 'POA'
      |     WHEN p_partkey % 7 = 1 THEN 'Offers over £500,000'
      |     ELSE '£' || format('{:,}', CAST(FLOOR(p_retailprice * 100) AS BIGINT)) END""".stripMargin

  /** "D.D miles <station words>" (pipeline.py:253-257), with malformed rows. */
  private def milesRaw: Column =
    when(col("p_partkey") % 9 === 0, lit("Northern line"))
      .otherwise(concat(col("p_partkey") % 10, lit("."), col("p_partkey") % 7,
        lit(" miles "), col("p_name")))
  private val milesRawSql =
    """CASE WHEN p_partkey % 9 = 0 THEN 'Northern line'
      |     ELSE (p_partkey % 10) || '.' || (p_partkey % 7) || ' miles ' || p_name END""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ── U1 to_num + U2 is_dropped (pipeline.py:142-150)
    sql("q_clean_u01_tonum",
      s"""SELECT p_partkey, price_raw,
         |       TRY_CAST(regexp_replace(price_raw, '[^0-9.]', '', 'g') AS DOUBLE) AS price,
         |       regexp_matches(price_raw, '^[£,0-9]+$$') AS is_valid
         |FROM (SELECT p_partkey, $priceRawSql AS price_raw FROM part)
         |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d).withColumn("price_raw", priceRaw)
        .select(col("p_partkey"), col("price_raw"),
          CleanFns.toNum(col("price_raw")).as("price"),
          CleanFns.isValidPrice(col("price_raw")).as("is_valid"))
        .orderBy("p_partkey")
    },

    // ── U3 ad-id from URL + U4 URL prefixing (pipeline.py:211-219)
    sql("q_clean_u03_adid",
      """SELECT p_partkey,
        |       'https://www.zoopla.co.uk/' || ('for-sale/details/' || p_partkey || '?search_identifier=abc') AS url,
        |       string_split(string_split('https://www.zoopla.co.uk/' || ('for-sale/details/' || p_partkey || '?search_identifier=abc'), '?')[1], '/')[4] AS ad_id
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val url = CleanFns.prefixUrl("https://www.zoopla.co.uk/",
        concat(lit("for-sale/details/"), col("p_partkey"), lit("?search_identifier=abc")))
      Tables.part(s, d).withColumn("url", url)
        .select(col("p_partkey"), col("url"),
          CleanFns.adIdFromUrl(col("url")).as("ad_id"))
        .orderBy("p_partkey")
    },

    // ── U5 miles split (pipeline.py:253-257) + F3 shape filter
    sql("q_clean_u05_miles",
      s"""SELECT p_partkey, dist_raw,
         |       TRY_CAST(string_split(dist_raw, ' miles ')[1] AS DOUBLE) AS distance,
         |       string_split(dist_raw, ' miles ')[2] AS subway_station
         |FROM (SELECT p_partkey, $milesRawSql AS dist_raw FROM part)
         |WHERE len(string_split(dist_raw, ' miles ')) = 2
         |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d).withColumn("dist_raw", milesRaw)
        .filter(size(split(col("dist_raw"), " miles ")) === 2)
        .select(col("p_partkey"), col("dist_raw"),
          CleanFns.milesDistance(col("dist_raw")).as("distance"),
          CleanFns.milesStation(col("dist_raw")).as("subway_station"))
        .orderBy("p_partkey")
    },

    // ── U6 digit extraction, asymmetric defaults (pipeline.py:388-395)
    //    + U7 leading-int parse (pipeline.py:385)
    sql("q_clean_u06_digits",
      """SELECT p_partkey, rooms_raw,
        |       CASE WHEN regexp_extract(rooms_raw, '[0-9]+') = '' THEN 0
        |            ELSE CAST(regexp_extract(rooms_raw, '[0-9]+') AS INT) END AS bathrooms,
        |       CASE WHEN regexp_extract(rooms_raw, '[0-9]+') = '' THEN 1
        |            ELSE CAST(regexp_extract(rooms_raw, '[0-9]+') AS INT) END AS receptions,
        |       TRY_CAST(string_split(rooms_raw, ' ')[1] AS INT) AS bedrooms
        |FROM (SELECT p_partkey,
        |             CASE WHEN p_partkey % 4 = 0 THEN 'Studio flat'
        |                  WHEN p_partkey % 4 = 1 THEN (p_partkey % 6) || ' bedrooms'
        |                  WHEN p_partkey % 4 = 2 THEN 'has ' || (p_partkey % 5) || ' baths'
        |                  ELSE '' END AS rooms_raw
        |      FROM part)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val roomsRaw = when(col("p_partkey") % 4 === 0, lit("Studio flat"))
        .when(col("p_partkey") % 4 === 1, concat(col("p_partkey") % 6, lit(" bedrooms")))
        .when(col("p_partkey") % 4 === 2, concat(lit("has "), col("p_partkey") % 5, lit(" baths")))
        .otherwise(lit(""))
      Tables.part(s, d).withColumn("rooms_raw", roomsRaw)
        .select(col("p_partkey"), col("rooms_raw"),
          CleanFns.firstDigits(col("rooms_raw"), 0).as("bathrooms"),
          CleanFns.firstDigits(col("rooms_raw"), 1).as("receptions"),
          CleanFns.leadingInt(col("rooms_raw")).as("bedrooms"))
        .orderBy("p_partkey")
    },

    // ── U8 digit-strip (pipeline.py:428-430), U9 currency cleanup
    //    (pipeline.py:630-631), U10 unit strip (pipeline.py:632)
    sql("q_clean_u08_strip",
      s"""SELECT p_partkey,
         |       TRY_CAST(regexp_replace(badge, '[^0-9]', '', 'g') AS INT) AS listing_count,
         |       TRY_CAST(translate(price_raw, '£,', '') AS DOUBLE) AS price_gbp,
         |       TRY_CAST(regexp_replace(tube_dist, 'm$$', '') AS DOUBLE) AS tube_km
         |FROM (SELECT p_partkey,
         |             (p_partkey % 90) || ' results' AS badge,
         |             $priceRawSql AS price_raw,
         |             '0.' || (p_partkey % 10) || 'm' AS tube_dist
         |      FROM part)
         |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .withColumn("badge", concat(col("p_partkey") % 90, lit(" results")))
        .withColumn("price_raw", priceRaw)
        .withColumn("tube_dist", concat(lit("0."), col("p_partkey") % 10, lit("m")))
        .select(col("p_partkey"),
          CleanFns.digitsOnlyInt(col("badge")).as("listing_count"),
          CleanFns.stripCurrency(col("price_raw")).try_cast("double").as("price_gbp"),
          CleanFns.stripUnitM(col("tube_dist")).as("tube_km"))
        .orderBy("p_partkey")
    },

    // ── U11 sub_values (pipeline.py:464-477): split/filter/flatten/trim
    //    (exercises AR1 flatten + AR2 filter-none)
    sql("q_clean_u11_subvalues",
      """SELECT p_partkey,
        |       array_to_string(
        |         list_transform(
        |           flatten(list_transform(
        |             list_filter(string_split(raw, chr(10)), x -> x <> ''),
        |             x -> string_split(x, '-'))),
        |           x -> trim(x)), '|') AS tokens
        |FROM (SELECT p_partkey,
        |             chr(10) || p_name || chr(10) || ' 0.' || (p_partkey % 10) || ' miles - ' || p_brand || chr(10) AS raw
        |      FROM part)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val raw = concat(lit("\n"), col("p_name"), lit("\n 0."), col("p_partkey") % 10,
        lit(" miles - "), col("p_brand"), lit("\n"))
      Tables.part(s, d).withColumn("raw", raw)
        .select(col("p_partkey"),
          array_join(CleanFns.subValues(col("raw")), "|").as("tokens"))
        .orderBy("p_partkey")
    },

    // ── U12 closest_line UDF (pipeline.py:480-501) — four synthesized token
    //    shapes; expected output computable per shape, so the oracle is a CASE
    sql("q_clean_u12_closest_line",
      """SELECT p_partkey,
        |       CASE p_partkey % 4
        |            WHEN 0 THEN 'Wimbledon Park' WHEN 1 THEN 'Angel Station'
        |            WHEN 3 THEN 'East Putney' END AS subway_station,
        |       CASE p_partkey % 4
        |            WHEN 0 THEN '0.2 miles' WHEN 1 THEN '0.3 miles'
        |            WHEN 3 THEN '0.5 miles' END AS distance,
        |       CASE p_partkey % 4
        |            WHEN 0 THEN 'District' WHEN 1 THEN 'Northern'
        |            WHEN 3 THEN 'London Underground' END AS tube_line
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val tokens = when(col("p_partkey") % 4 === 0,
          array(lit("Wimbledon"), lit("Park"), lit("0.2 miles"), lit("District")))
        .when(col("p_partkey") % 4 === 1,
          array(lit("Angel Station"), lit("0.3 miles"), lit("Northern")))
        .when(col("p_partkey") % 4 === 2,
          array(lit("Croydon"), lit("0.1 miles"), lit("National Rail")))
        .otherwise(
          array(lit("East"), lit("Putney"), lit("0.5 miles"), lit("London Underground")))
      Tables.part(s, d).withColumn("nearby", ClosestLineUdf.asUdf(tokens))
        .select(col("p_partkey"),
          col("nearby.subway_station").as("subway_station"),
          col("nearby.distance").as("distance"),
          col("nearby.tube_line").as("tube_line"))
        .orderBy("p_partkey")
    },

    // ── U13 get_tube_dist + U14 strip_tube + U15 hasNumbers + U17
    //    clean_tube_dist: the conditional repair chain (pipeline.py:530-576)
    sql("q_clean_u13_repair",
      """SELECT p_partkey, dist_raw, station_raw,
        |       CASE WHEN NOT regexp_matches(dist_raw, '[0-9]') AND station_raw IS NOT NULL
        |            THEN string_split(station_raw, ' ')[-1] ELSE dist_raw END AS distance,
        |       CASE WHEN NOT regexp_matches(dist_raw, '[0-9]') AND station_raw IS NOT NULL
        |            THEN array_to_string(string_split(station_raw, ' ')[1:len(string_split(station_raw, ' '))-1], ' ')
        |            ELSE station_raw END AS subway_station
        |FROM (SELECT p_partkey,
        |             CASE WHEN p_partkey % 3 = 0 THEN 'no digits' ELSE '0.' || (p_partkey % 10) || 'm' END AS dist_raw,
        |             CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE p_name || ' 0.4m' END AS station_raw
        |      FROM part)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val distRaw = when(col("p_partkey") % 3 === 0, lit("no digits"))
        .otherwise(concat(lit("0."), col("p_partkey") % 10, lit("m")))
      val stationRaw = when(col("p_partkey") % 5 === 0, lit(null))
        .otherwise(concat(col("p_name"), lit(" 0.4m")))
      Tables.part(s, d)
        .withColumn("dist_raw", distRaw).withColumn("station_raw", stationRaw)
        .select(col("p_partkey"), col("dist_raw"), col("station_raw"),
          CleanFns.repairedDistance(col("dist_raw"), col("station_raw")).as("distance"),
          CleanFns.repairedStation(col("dist_raw"), col("station_raw")).as("subway_station"))
        .orderBy("p_partkey")
    },

    // ── U16 clean_tube_stop_string (pipeline.py:545-557)
    sql("q_clean_u16_carriers",
      """SELECT p_partkey, station_raw,
        |       CASE WHEN contains(station_raw, 'London Overground') OR contains(station_raw, 'Railway')
        |              OR contains(station_raw, 'Network Rail') OR contains(station_raw, 'Tramlink')
        |            THEN string_split(station_raw, ' ')[-1] ELSE station_raw END AS station
        |FROM (SELECT p_partkey,
        |             CASE WHEN p_partkey % 4 = 0 THEN 'London Overground Hackney'
        |                  WHEN p_partkey % 4 = 1 THEN 'Tramlink Wimbledon'
        |                  WHEN p_partkey % 4 = 2 THEN 'Network Rail Clapham'
        |                  ELSE 'Angel' END AS station_raw
        |      FROM part)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val stationRaw = when(col("p_partkey") % 4 === 0, lit("London Overground Hackney"))
        .when(col("p_partkey") % 4 === 1, lit("Tramlink Wimbledon"))
        .when(col("p_partkey") % 4 === 2, lit("Network Rail Clapham"))
        .otherwise(lit("Angel"))
      Tables.part(s, d).withColumn("station_raw", stationRaw)
        .select(col("p_partkey"), col("station_raw"),
          CleanFns.cleanStationName(col("station_raw")).as("station"))
        .orderBy("p_partkey")
    },

    // ── U18 victoria_clean_stop (pipeline.py:579-602)
    sql("q_clean_u18_victoria",
      """SELECT p_partkey, station_raw,
        |       CASE WHEN contains(station_raw, 'Victoria')
        |            THEN CASE WHEN string_split(station_raw, ' ')[1] = 'Victoria'
        |                           AND len(string_split(station_raw, ' ')) > 1
        |                      THEN string_split(station_raw, ' ')[2] ELSE 'Victoria' END
        |            ELSE station_raw END AS station
        |FROM (SELECT p_partkey,
        |             CASE WHEN p_partkey % 4 = 0 THEN 'Victoria Pimlico'
        |                  WHEN p_partkey % 4 = 1 THEN 'Brixton Victoria'
        |                  WHEN p_partkey % 4 = 2 THEN 'Victoria'
        |                  ELSE 'Angel' END AS station_raw
        |      FROM part)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val stationRaw = when(col("p_partkey") % 4 === 0, lit("Victoria Pimlico"))
        .when(col("p_partkey") % 4 === 1, lit("Brixton Victoria"))
        .when(col("p_partkey") % 4 === 2, lit("Victoria"))
        .otherwise(lit("Angel"))
      Tables.part(s, d).withColumn("station_raw", stationRaw)
        .select(col("p_partkey"), col("station_raw"),
          CleanFns.victoriaCleanStop(col("station_raw")).as("station"))
        .orderBy("p_partkey")
    },

    // ── U19 'None'→NULL (pipeline.py:290) + U20 ''→0 (pipeline.py:747)
    //    + U21 casts — composed as in the air-quality branch
    sql("q_clean_u19_nulls",
      """SELECT p_partkey, value_raw,
        |       CASE WHEN value_raw = 'None' THEN NULL ELSE value_raw END AS value_normed,
        |       CASE WHEN value_raw = '' OR value_raw IS NULL THEN 0.0
        |            ELSE TRY_CAST(value_raw AS DOUBLE) END AS value_num
        |FROM (SELECT p_partkey,
        |             CASE WHEN p_partkey % 5 = 0 THEN 'None'
        |                  WHEN p_partkey % 5 = 1 THEN ''
        |                  ELSE CAST(p_partkey % 40 AS VARCHAR) || '.5' END AS value_raw
        |      FROM part)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val valueRaw = when(col("p_partkey") % 5 === 0, lit("None"))
        .when(col("p_partkey") % 5 === 1, lit(""))
        .otherwise(concat((col("p_partkey") % 40).cast("string"), lit(".5")))
      Tables.part(s, d).withColumn("value_raw", valueRaw)
        .select(col("p_partkey"), col("value_raw"),
          CleanFns.noneToNull(col("value_raw")).as("value_normed"),
          CleanFns.emptyToZero(col("value_raw")).as("value_num"))
        .orderBy("p_partkey")
    },

    // ── U23 multi-column concat_ws (google_maps_api.ipynb:485-486)
    //    + U24 timestamp slug (pipeline.py:348, deterministic form)
    sql("q_clean_u23_concat",
      """SELECT p_partkey,
        |       concat_ws(';', p_name, p_brand, p_type) AS joined,
        |       strftime(TIMESTAMP '2021-03-13 12:34:56', '%Y-%m-%d_%H-%M-%S') AS slug
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          concat_ws(";", col("p_name"), col("p_brand"), col("p_type")).as("joined"),
          CleanFns.timestampSlugOf(lit("2021-03-13 12:34:56").cast("timestamp")).as("slug"))
        .orderBy("p_partkey")
    },

    // ── U25 line-name array filter (google_maps_api.ipynb:459-469)
    sql("q_clean_u25_lines",
      """SELECT p_partkey,
        |       array_to_string(
        |         list_filter(lines, x -> contains(x, ' line') AND NOT regexp_matches(x, 'lines?\)$')),
        |         '|') AS kept
        |FROM (SELECT p_partkey,
        |             ['Northern line', p_brand || ' (2 lines)', 'Victoria line', 'busline', p_type || ' (line)'] AS lines
        |      FROM part)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val lines = array(lit("Northern line"),
        concat(col("p_brand"), lit(" (2 lines)")), lit("Victoria line"),
        lit("busline"), concat(col("p_type"), lit(" (line)")))
      Tables.part(s, d).withColumn("lines", lines)
        .select(col("p_partkey"),
          array_join(CleanFns.keepLineNames(col("lines")), "|").as("kept"))
        .orderBy("p_partkey")
    },

    // ── AR3 zip to tuples (google_maps_api.ipynb cell 4): arrays_zip +
    //    transform; output serialized (oracle computes expected directly)
    sql("q_arr_zip",
      """SELECT n_nationkey,
        |       n_name || ':' || n_regionkey AS pair0,
        |       lower(n_name) || ':' || (n_regionkey * 10) AS pair1
        |FROM nation ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val names = array(col("n_name"), lower(col("n_name")))
      val keys = array(col("n_regionkey"), col("n_regionkey") * 10)
      Tables.nation(s, d)
        .withColumn("zipped",
          transform(arrays_zip(names.as("a"), keys.as("b")),
            x => concat(x.getField("a"), lit(":"), x.getField("b"))))
        .select(col("n_nationkey"),
          element_at(col("zipped"), 1).as("pair0"),
          element_at(col("zipped"), 2).as("pair1"))
        .orderBy("n_nationkey")
    },

    // ── the same list_divider semantics as a genuine custom Generator
    //    (UDTF): per-user event-type sequences split at 'signup' sentinels,
    //    sentinel rows dropped, (group_id, pos) assigned per group — the
    //    literal shape of the reference's Python loop, planned as a
    //    Generate node. Oracle replicates with strictly-before sentinel
    //    counts + per-group row numbers.
    sql("q_arr_list_divider",
      """WITH s AS (
        |  SELECT user_id, event_id, event_type,
        |         COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gid
        |  FROM events)
        |SELECT user_id, CAST(gid AS INT) AS group_id,
        |       CAST(row_number() OVER (PARTITION BY user_id, gid ORDER BY event_id) - 1 AS INT) AS pos,
        |       event_type AS item
        |FROM s WHERE event_type <> 'signup'
        |ORDER BY user_id, group_id, pos""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("event_id"), col("event_type"))))
          .as("seq"))
        .select(col("user_id"),
          expr("list_divider(transform(seq, x -> x.event_type), 'signup')"))
        .orderBy("user_id", "group_id", "pos")
    },

    // ── AR4 sentinel split (list_divider, google_maps_api.ipynb:426-438):
    //    running group-id + per-group aggregation (order-free summary —
    //    collect_list order isn't deterministic under shuffle)
    sql("q_arr_sentinel_groups",
      """WITH g AS (SELECT event_id,
        |                  SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |                    OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS group_id
        |           FROM events)
        |SELECT CAST(group_id AS BIGINT) AS group_id, COUNT(*) AS n_events,
        |       MIN(event_id) AS first_event, MAX(event_id) AS last_event
        |FROM g GROUP BY group_id ORDER BY group_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("event_id").rowsBetween(Long.MinValue, 0)
      Tables.events(s, d)
        .withColumn("group_id",
          sum(when(col("event_type") === "signup", 1).otherwise(0)).over(w).cast("long"))
        .groupBy("group_id")
        .agg(count(lit(1)).as("n_events"),
          min("event_id").as("first_event"), max("event_id").as("last_event"))
        .orderBy("group_id")
    }
  )
}
