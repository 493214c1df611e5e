package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One written input table: where it is, how many rows, how many bytes. */
final case class Table(name: String, path: String, rows: Long, bytes: Long)

/** Seeded input generators. Every value is a hash of (row id, seed, salt),
  * so the same seed writes the same rows on any machine, and nothing is
  * read from outside the directory the caller passes in. */
final class Data(spark: SparkSession, seed: Long) {

  private def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
  private def num(salt: Int, m: Long): Column = pmod(h(salt), lit(m))
  /** 32 hex characters that compress poorly: the "wide" leaves. */
  private def hex(salt: Int): Column =
    md5(concat_ws(":", col("id").cast("string"), lit(seed.toString), lit(salt.toString)))
  private def word(salt: Int, words: Seq[String]): Column =
    element_at(array(words.map(lit): _*), (num(salt, words.size.toLong) + 1).cast("int"))

  /** Row ids 0 until n, in `files` partitions: one output file each. */
  private def ids(n: Long, files: Int): DataFrame = spark.range(0, n, 1, files).toDF()

  private def write(name: String, df: DataFrame, dir: String, rows: Long,
      partitionBy: Seq[String] = Nil): Table = {
    val path = s"$dir/$name"
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path)
    Table(name, path, rows, Data.parquetBytes(new File(path)))
  }

  /** The first `n` of `xs`: a variable-length array without a lambda
    * (lambdas are interpreted, which makes writing slow). */
  private def upTo(n: Column, xs: Seq[Column]): Column = slice(array(xs: _*), lit(1), n.cast("int"))

  /** The nested table: FIXTURES.md's shapes at scale. F1's every nesting
    * combination, F2's condition flag, depth-4 array-in-struct-in-array
    * and map of arrays of structs, F4's hive partitioning by `someLong`
    * over several files, and `PruneBench`'s wide subtrees (`meta`,
    * `payload`, `attrs`) whose wide leaves the narrow queries skip. The
    * wide leaves are cut from one hash per row so writing stays cheap. */
  def nested(dir: String, rows: Long, files: Int): Table = {
    val h0 = hex(53)
    def cut(from: Int, len: Int) = substring(concat(h0, reverse(h0)), from, len)
    val df = ids(rows, files).select(
      col("id"),
      // ---- F1 / F2 ----
      word(1, Seq("abc", "xyz", "foo", "bar")).as("someStr"),
      (num(2, 4) + 12).as("someLong"),
      (num(3, 1000) / 8.0).as("someDouble"),
      (num(4, 2) === 0).as("someBoolean"),
      upTo(num(5, 3) + 1, (1 to 3).map(i => concat(lit(s"s${i}_"), num(6, 9)))).as("someStrArray"),
      upTo(num(7, 3) + 1, (1 to 3).map(i => struct((num(8, 100) + i).as("col1"),
        (num(9, 100) * i).as("col2")))).as("someComplexArray"),
      struct(num(10, 50).as("col1"), num(11, 50).as("col2"), num(12, 50).as("col3"),
        (num(43, 2) === 0).as("condition"),
        upTo(num(13, 4) + 1, (1 to 4).map(i => num(14, 10) + i)).as("subArray")).as("struct"),
      struct(struct(num(15, 9).as("col1"), num(16, 9).as("col2")).as("childStruct"),
        cut(2, 20).as("str")).as("nestedStruct"),
      array((1 to 2).map(i => upTo(num(18, 2) + i, (1 to 3).map(j => num(19, 7) + j))): _*)
        .as("someArrayOfArrays"),
      upTo(num(20, 3) + 1, (1 to 3).map(i => struct((num(21, 20) + i).as("col1"),
        array((1 to 2).map(j => num(22, 30) * j): _*).as("col2"),
        num(23, 20).as("col3")))).as("someArrayOfComplexArrays"),
      struct(h0.as("justAString"),
        upTo(num(31, 3) + 1, (1 to 3).map(i => struct(
          (pmod(num(32, 7) + i, lit(2)) === 0).as("justABool"),
          array((1 to 3).map(j => num(33, 100) + j): _*).as("longArray"),
          upTo(num(34, 2) + 1, (1 to 2).map(j => struct(
            concat(lit("in1_"), num(35, 5), lit(s"_$j")).as("innerField1"),
            concat(lit("in2_"), num(36, 5), lit(s"_$i")).as("innerField2"),
            cut(i * 3 + j, 12).as("innerWide")))).as("anotherRepeatedStuff")))).as("repeatedStuff"))
        .as("crazyStruct"),
      map_from_arrays(array(lit("a"), lit("b"), lit("c")),
        array((1 to 3).map(k => upTo(num(38, 2) + 1, (1 to 2).map(j => struct(
          concat(lit("v"), num(39, 6), lit(s"_$k")).as("val1"),
          cut(k * 7 + j, 16).as("val2"), (num(41, 1000) + j).as("val3"),
          cut(k * 11 + j, 16).as("val4"))))): _*)).as("mapOfArray"),
      // ---- PruneBench's wide subtrees ----
      struct(concat(lit("title_"), col("id")).as("title"),
        word(50, Seq("c0", "c1", "c2", "c3", "c4", "c5", "c6")).as("category"),
        struct((num(51, 3) === 0).as("active"), word(52, Seq("web", "app")).as("source")).as("flags"),
        concat(h0, reverse(h0)).as("description"),
        reverse(h0).as("keywords")).as("meta"),
      struct(
        // decimals, so sums do not depend on the order rows arrive in
        struct((num(58, 10000) / 100).cast("decimal(10,2)").as("score"),
          (num(59, 1700) / 100).cast("decimal(10,2)").as("weight")).as("metrics"),
        array((1 to 4).map(i => struct(
          lit(s"h$i").as("heading"),
          cut(i * 4, 24).as("body"),
          upTo(num(62, 3) + 1, (1 to 3).map(j => concat(lit("tag"), pmod(num(63, 11) + (i + j), lit(11)))))
            .as("tags"))): _*).as("sections"))
        .as("payload"),
      map_from_arrays(array(lit("k1"), lit("k2"), lit("k3")),
        array((1 to 3).map(i => struct(
          concat(lit("s"), num(64, 50) + i).as("small"),
          cut(i * 5, 20).as("wide"))): _*)).as("attrs"))
    write("nested", df, dir, rows, partitionBy = Seq("someLong"))
  }

  // ---- flat tables for the operator queries (TESTDATA.md's schemas) ----

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg",
    "value", "key", "stream", "window", "a", "spark", "part", "group", "big", "sort",
    "query", "fast", "the")

  def flat(dir: String, orders: Long): Seq[Table] = {
    val lines = orders * 4
    val customers = math.max(orders / 10, 10)
    val day = 86400L
    val t0 = 694224000L // 1992-01-01
    val lineitem = ids(lines, 2).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      num(70, orders / 3).as("l_partkey"),
      num(71, 100).as("l_suppkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      (num(72, 50) + 1).cast("double").as("l_quantity"),
      ((num(72, 50) + 1) * (num(73, 1000) + 900)).cast("double").as("l_extendedprice"),
      (num(74, 11) / 100.0).as("l_discount"),
      (num(75, 9) / 100.0).as("l_tax"),
      word(76, Seq("A", "N", "R")).as("l_returnflag"),
      word(77, Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(lit(t0) + num(78, 2900) * day).as("l_shipdate"))
    val ordersDf = ids(orders, 1).select(
      col("id").as("o_orderkey"),
      num(80, customers).as("o_custkey"),
      word(81, Seq("F", "O", "P")).as("o_orderstatus"),
      (num(82, 40000000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(t0) + num(83, 2400) * day).as("o_orderdate"),
      word(84, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val customer = ids(customers, 1).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      num(85, 25).cast("int").as("c_nationkey"),
      (num(86, 1100000) / 100.0 - 1000).as("c_acctbal"),
      word(87, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    // ~1 in 8 documents repeats a 24-word span of another, so the
    // duplicate and near-duplicate operators have work to find
    val docs = orders / 3
    val words = transform(sequence(lit(1), (num(90, 80) + 8).cast("int")),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(col("id"), lit(seed), i), lit(vocab.size.toLong)) + 1).cast("int")))
    val shared = transform(sequence(lit(1), lit(24)),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(num(91, 8), lit(seed), i), lit(vocab.size.toLong)) + 1).cast("int")))
    val text = array_join(when(num(92, 8) === 0, concat(words, shared)).otherwise(words), " ")
    val documents = ids(docs, 1).select(col("id").as("doc_id"), text.as("text"))
      .select(col("doc_id"), col("text"),
        element_at(array(Seq("en", "en", "es", "de", "fr").map(lit): _*),
          (pmod(xxhash64(col("doc_id"), lit(seed), lit(93)), lit(5L)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    val dim = 32
    val embeddings = ids(docs, 1).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        i => ((pmod(xxhash64(col("id"), lit(seed), i), lit(2001L)) - 1000) / 1000.0).cast("float"))
        .as("embedding"),
      num(94, 10).cast("int").as("label"))
    Seq(write("lineitem.parquet", lineitem, dir, lines),
      write("orders.parquet", ordersDf, dir, orders),
      write("customer.parquet", customer, dir, customers),
      write("documents.parquet", documents, dir, docs),
      write("embeddings.parquet", embeddings, dir, docs))
  }
}

object Data {
  /** Bytes of every parquet file under `f`. */
  def parquetBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(parquetBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}
