package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic 10× corpus generator for the sf1 differential (r14
  * verdict task 6): writes fixture-SCHEMA-faithful synthetic tables —
  * same columns, types, value domains (the 31-word text vocab, the
  * skewed lang mix, src0–19, the five event types, dense orderkeys) —
  * at `factor`× the sf0.1 row counts, as ONE parquet file per table so
  * both `Tables.*` and the DuckDB oracle read them exactly like the
  * driver fixtures. Dimension tables the differential queries never
  * touch (region/nation/customer/supplier/part) are copied from the
  * source fixture byte-for-byte.
  *
  * Everything is pure hash arithmetic on the row id (no RNG):
  * re-running reproduces the corpus bit-for-bit, so a differential
  * failure is always the ENGINE, never the data.
  * Doc texts carry ~20% exact-dup groups (5-doc blocks) to keep the
  * dedup family's cluster structure non-trivial at every factor.
  *
  * The same corpus is where the registered queries are timed at scale:
  * `SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Scratch <query...>` (the
  * operator-twin list is in [[ScaleSmoke]]'s scaladoc).
  *
  * Usage: `runMain graft.GenScale [srcDir] [outDir] [factor]`
  * (defaults /root/testdata/sf0.1 → /tmp/graft_sf1 ×10). */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Harness.session(Harness.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    // single-file parquet, like the driver fixtures — DuckDB's
    // read_parquet targets a file path, not a directory
    def writeSingle(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/_gen_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(out, s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Harness.deleteTree(java.nio.file.Paths.get(tmp))
      println(s"[gen] $name.parquet written (${df.columns.mkString(",")})")
    }
    def h(c: org.apache.spark.sql.Column, salt: Long) =
      pmod(xxhash64(c + lit(salt)), lit(1000000007L))
    def pick(c: org.apache.spark.sql.Column, salt: Long, vals: Seq[String]) =
      element_at(array(vals.map(lit): _*),
        (h(c, salt) % vals.size).cast("int") + 1)

    // ---- documents: fixture vocab, 10–100 tokens, ~20% exact-dup
    // 5-blocks (same structure the sf0.1 dedup family clusters on)
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key",
      "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window")
    val nDocs = 5000L * factor
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      // dup membership is decided PER 5-BLOCK (hash of the block id),
      // not per doc — a per-doc flag would leave ~41% of flagged docs
      // the only flagged member of their block (a singleton "dup"
      // carrying a group seed), thinning real clusters to ~12% mostly
      // size-2 (r15 review); block-level flagging yields the stated
      // ~20% of docs in genuine 5-doc exact-dup groups. The +nDocs
      // offset keeps dup-group seeds disjoint from unique-doc seeds.
      when(h((col("id") / 5).cast("long") * 5, 1) % 10 < 2,
        (col("id") / 5).cast("long") * 5 + lit(nDocs))
        .otherwise(col("id")).as("seed"))
      .select(col("doc_id"),
        concat_ws(" ", transform(
          sequence(lit(1), (h(col("seed"), 2) % 91).cast("int") + 10),
          j => element_at(array(vocab.map(lit): _*),
            (pmod(xxhash64(col("seed") * 128 + j), lit(vocab.size.toLong)))
              .cast("int") + 1))).as("text"),
        col("seed"))
      .select(col("doc_id"), col("text"),
        // fixture lang mix: en 41 / zh 15 / es 15 / fr 15 / de 14
        when(h(col("doc_id"), 3) % 100 < 41, "en")
          .when(h(col("doc_id"), 3) % 100 < 56, "zh")
          .when(h(col("doc_id"), 3) % 100 < 71, "es")
          .when(h(col("doc_id"), 3) % 100 < 86, "fr")
          .otherwise("de").as("lang"),
        concat(lit("src"), h(col("doc_id"), 4) % 20).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    writeSingle(docs, "documents")

    // ---- embeddings: 64-d float like the fixture, 10 labels with a
    // component-0 class bias so classifiers have signal
    val nVecs = 2000L * factor
    val emb = spark.range(nVecs).select(col("id").as("vec_id"),
      (h(col("id"), 7) % 10).cast("int").as("label"))
      .select(col("vec_id"), col("label"),
        transform(sequence(lit(0), lit(63)), i =>
          ((pmod(xxhash64(col("vec_id") * 64 + i), lit(1000L)).cast("double")
            / 500.0 - 1.0)
            + when(i === 0, col("label").cast("double") / 5.0)
              .otherwise(lit(0.0))).cast("float")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("label"))
    writeSingle(emb, "embeddings")

    // ---- events: 30-day Jan-2024 span with per-event jitter, 10×
    // users, uniform five types, {"k": n} props like the fixture
    val nEvents = 100000L * factor
    val janUs = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val spanUs = 30L * 24 * 3600 * 1000000L
    val events = spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(janUs) + col("id") * lit(spanUs / nEvents)
        + h(col("id"), 8) % lit(spanUs / nEvents)).as("ts"),
      (h(col("id"), 9) % (1500L * factor)).as("user_id"),
      pick(col("id"), 10,
        Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      // exponential-ish tail matching the fixture's value distribution
      // (mean ≈50, median ≈35, max ≈575 vs the fixture's 560): a
      // uniform [0,100) domain left value-threshold queries (q167's
      // conversion cut at 180) degenerate at 10× — the r15 sf1 sweep's
      // first real catch
      round(-lit(50.0) * log((h(col("id"), 11) % 100000 + 1)
        .cast("double") / 100000.0), 2).as("value"),
      concat(lit("{\"k\": "), h(col("id"), 12) % 100, lit("}")).as("props"))
    writeSingle(events, "events")

    // ---- orders: dense orderkeys (q213's binary-tree walk needs the
    // dense domain), fixture status/priority/date domains
    val nOrders = 150000L * factor
    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      (h(col("id"), 13) % (15000L * factor)).as("o_custkey"),
      pick(col("id"), 14, Seq("O", "P", "F")).as("o_orderstatus"),
      round((h(col("id"), 15) % 45000000).cast("double") / 100.0, 2)
        .as("o_totalprice"),
      timestamp_seconds(lit(788918400L) // 1995-01-01
        + (h(col("id"), 16) % 2400) * lit(86400L)).as("o_orderdate"),
      pick(col("id"), 17, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT",
        "5-LOW")).as("o_orderpriority"))
    writeSingle(orders, "orders")

    // ---- lineitem: 4 lines per order (keys dense against orders)
    val nLines = 600000L * factor
    val lineitem = spark.range(nLines).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      (h(col("id"), 18) % 20000).as("l_partkey"),
      (h(col("id"), 19) % 1000).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(col("id"), 20) % 50 + 1).cast("double").as("l_quantity"),
      round((h(col("id"), 21) % 9000000).cast("double") / 100.0 + 900.0, 2)
        .as("l_extendedprice"),
      ((h(col("id"), 22) % 11).cast("double") / 100.0).as("l_discount"),
      ((h(col("id"), 23) % 9).cast("double") / 100.0).as("l_tax"),
      pick(col("id"), 24, Seq("R", "A", "N")).as("l_returnflag"),
      pick(col("id"), 25, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(788918400L)
        + (h(col("id"), 26) % 2500) * lit(86400L)).as("l_shipdate"))
    writeSingle(lineitem, "lineitem")

    // ---- untouched dimensions: copy the fixture files byte-for-byte
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(src, s"$t.parquet"),
        java.nio.file.Paths.get(out, s"$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      println(s"[gen] $t.parquet copied from $src")
    }
    println(s"[gen] done: $out at ${factor}x sf0.1")
    Harness.close(spark)
  }
}
