package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded generator for the star-schema tables the library reads
  * (`region nation customer supplier part orders lineitem events
  * documents embeddings`), with the column names, types and value ranges
  * of the library's test data. Every value is a hash of (seed, column,
  * row id), so one seed always yields the same files, and generation is a
  * single parallel Spark job per table.
  */
object DataGen {

  final case class Sizes(customers: Long = 1500, suppliers: Long = 100, parts: Long = 2000,
                         orders: Long = 15000, lineitems: Long = 60000, events: Long = 10000,
                         documents: Long = 500, embeddings: Long = 500)

  private val Vocab = Seq("join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line", "data", "table", "agg",
    "value", "key", "stream", "window", "spark", "a", "group", "part", "big", "sort",
    "query", "fast", "the")

  private def arr(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("array(", ", ", ")")

  /** Writes `tables` under `dir` as `<name>.parquet`, up to four files
    * each, generated in parallel. */
  def write(spark: SparkSession, dir: String, seed: Long, sizes: Sizes, tables: Seq[String]): Unit =
    tables.foreach { t =>
      frame(spark, seed, sizes, t).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }

  def frame(spark: SparkSession, seed: Long, s: Sizes, table: String): DataFrame = {
    def h(tag: String, id: String = "id"): String = s"xxhash64(${seed}L, '$tag', $id)"
    def pick(tag: String, n: Long, id: String = "id"): String = s"pmod(${h(tag, id)}, ${n}L)"
    def unif(tag: String): String = s"(cast(pmod(${h(tag)}, 1000003L) as double) / 1000003.0)"
    def oneOf(tag: String, xs: Seq[String]): String =
      s"element_at(${arr(xs)}, cast(${pick(tag, xs.size.toLong)} as int) + 1)"
    def range(n: Long) = spark.range(0, n, 1, math.max(1, math.min(4, (n / 1000).toInt)))
    table match {
      case "region" => range(5).selectExpr("cast(id as int) as r_regionkey",
        s"element_at(${arr(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))}, cast(id as int) + 1) as r_name")
      case "nation" => range(25).selectExpr("cast(id as int) as n_nationkey",
        "concat('NATION_', cast(id as string)) as n_name", "cast(id % 5 as int) as n_regionkey")
      case "customer" => range(s.customers).selectExpr("id as c_custkey",
        "concat('Customer#', lpad(cast(id as string), 9, '0')) as c_name",
        s"cast(${pick("c_nat", 25)} as int) as c_nationkey",
        s"round(${unif("c_bal")} * 10998.99 - 999.99, 2) as c_acctbal",
        oneOf("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")) + " as c_mktsegment")
      case "supplier" => range(s.suppliers).selectExpr("id as s_suppkey",
        "concat('Supplier#', lpad(cast(id as string), 9, '0')) as s_name",
        s"cast(${pick("s_nat", 25)} as int) as s_nationkey",
        s"round(${unif("s_bal")} * 10998.99 - 999.99, 2) as s_acctbal")
      case "part" => range(s.parts).selectExpr("id as p_partkey",
        "concat(" + oneOf("p_col", Seq("small", "red", "blue", "green", "large", "steel")) + ", ' ', " +
          oneOf("p_noun", Seq("ring", "widget", "bolt", "gear", "valve", "spring")) + ") as p_name",
        s"concat('Brand#', cast(${pick("p_brand", 25)} + 1 as string)) as p_brand",
        oneOf("p_type", Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")) + " as p_type",
        s"cast(${pick("p_size", 50)} + 1 as int) as p_size",
        "900.0 + cast(id % 2000 as double) / 10.0 as p_retailprice")
      case "orders" => range(s.orders).selectExpr("id as o_orderkey",
        s"${pick("o_cust", s.customers)} as o_custkey",
        oneOf("o_status", Seq("F", "O", "P")) + " as o_orderstatus",
        s"round(${unif("o_price")} * 500000.0 + 1000.0, 2) as o_totalprice",
        s"TIMESTAMP_NTZ'1995-01-01 00:00:00' + make_dt_interval(cast(${pick("o_date", 2404)} as int)) as o_orderdate",
        oneOf("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")) + " as o_orderpriority")
      case "lineitem" => range(s.lineitems).selectExpr(
        s"${pick("l_order", s.orders)} as l_orderkey",
        s"${pick("l_part", s.parts)} as l_partkey",
        s"${pick("l_supp", s.suppliers)} as l_suppkey",
        s"cast(${pick("l_line", 7)} + 1 as int) as l_linenumber",
        s"cast(${pick("l_qty", 50)} + 1 as double) as l_quantity",
        s"round(${unif("l_price")} * 100000.0 + 900.0, 2) as l_extendedprice",
        s"cast(${pick("l_disc", 11)} as double) / 100.0 as l_discount",
        s"cast(${pick("l_tax", 9)} as double) / 100.0 as l_tax",
        oneOf("l_rf", Seq("R", "A", "N")) + " as l_returnflag",
        oneOf("l_ls", Seq("O", "F")) + " as l_linestatus",
        s"TIMESTAMP_NTZ'1995-01-02 00:00:00' + make_dt_interval(cast(${pick("l_ship", 2499)} as int)) as l_shipdate")
      case "events" =>
        // Increasing timestamps spread over 30 days from 2024-01-01.
        val step = 2592000.0 / s.events
        range(s.events).selectExpr("id as event_id",
          s"TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, " +
            s"cast((cast(id as double) + ${unif("e_ts")}) * $step as decimal(18, 6))) as ts",
          s"${pick("e_user", math.max(1L, s.customers / 10))} as user_id",
          oneOf("e_type", Seq("view", "click", "purchase", "signup", "error")) + " as event_type",
          s"round(${unif("e_val")} * 500.0, 2) as value",
          s"concat('{\"k\": ', cast(${pick("e_k", 100)} as string), '}') as props")
      case "documents" =>
        // One in twenty documents repeats an earlier one's text plus " dup".
        val tid = s"case when id > 0 and ${pick("d_dup", 20)} = 0 then ${pick("d_src", 1L << 40)} % id else id end"
        range(s.documents).selectExpr("id", s"$tid as tid")
          .selectExpr("id as doc_id",
            s"array_join(transform(sequence(1, cast(${pick("d_len", 90, "tid")} as int) + 10), " +
              s"i -> element_at(${arr(Vocab)}, cast(pmod(xxhash64(${seed}L, 'd_w', tid, i), ${Vocab.size}L) as int) + 1)), ' ')" +
              " || case when tid != id then ' dup' else '' end as text",
            oneOf("d_lang", Seq("en", "en", "en", "en", "es", "de", "fr", "zh")) + " as lang",
            s"concat('src', cast(${pick("d_srcn", 20)} as string)) as source")
          .selectExpr("*", "cast(length(text) as bigint) as n_chars")
      case "embeddings" =>
        // Gaussian directions (Box-Muller), normalized to unit length.
        val g = s"sqrt(-2.0 * ln((cast(pmod(xxhash64(${seed}L, 'v_a', id, i), 1000003L) as double) + 1.0) / 1000004.0))" +
          s" * cos(2.0 * pi() * cast(pmod(xxhash64(${seed}L, 'v_b', id, i), 1000003L) as double) / 1000003.0)"
        range(s.embeddings)
          .selectExpr("id", s"transform(sequence(1, 64), i -> $g) as raw", s"cast(${pick("v_label", 10)} as int) as label")
          .selectExpr("id as vec_id",
            "transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) as float)) as embedding",
            "label")
    }
  }
}
