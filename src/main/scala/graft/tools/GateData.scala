package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COMPLETE sf1-equivalent testdata: all ten tables with full schemas,
  * so `graft.Verify` + the DuckDB oracle can hash-gate the whole query
  * surface one decade above the driver's largest SF (VERDICT r14 #3:
  * "the hash gate stops at sf0.1; scaling evidence at sf1 is
  * timing-only"), and so `graft.tools.Profile` run at the base dir and
  * at this one reads each query's decade ratio (the sf1 scale check).
  *
  * The disjointness discipline (the measured-not-guessed rules that
  * keep ×10 data from becoming ×100 work):
  *   - documents: replica k word-prefixes text with `r<k>q` (k=0
  *     verbatim) — shingle/minhash/vocab universes stay disjoint, so no
  *     near-dup pair crosses replicas (GateDataSpec); doc_id offsets
  *     are multiples of 10⁶ so `% 10` splits hold. Exact pair
  *     generators (q_ngram_jaccard) read rows ×replicas exactly; LSH
  *     ones read NEAR it (q_minhash_lsh ×10.33 from sf0.01, 24–25
  *     pairs per replica against the base's 24): prefixed shingles hash
  *     to different min-md5 signatures, so each replica has its own
  *     banding recall;
  *   - supplier/part/customer names: DOUBLED-digit prefix `r<k><k>q`
  *     (single digits differ by one char — a cross-replica dist-1
  *     edit-pair bomb, measured as ×12.7 edit-distance pair rows
  *     instead of ×10 on the supplier shards);
  *   - keys shift per replica (orderkeys ×10⁷, entity keys ×10⁶) with
  *     MATCHING offsets across tables, so every foreign-key
  *     relationship holds shard-locally;
  *   - region/nation stay verbatim: fixed dims at any real SF, and
  *     nationkeys must keep resolving.
  *
  * The oracle runs on the same parquet, so the compare is as strict as
  * the driver's: per-query rows + schema + cell values.
  * Run: sbt "runMain graft.tools.GateData [outDir] [replicas] [tables]"
  * — `tables` (comma list, default all) narrows the output for
  * second-decade SPOT sets (e.g. 100 replicas of documents,lineitem
  * for the q_compaction/q_triangles/q_video_neardup_filter ×100 check;
  * writing all ten at ×100 would mostly synthesize data no probe
  * reads).
  */
object GateData {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1gate")
    val replicas = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val only = args.drop(2).headOption
      .map(_.split(",").map(_.trim).toSet)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, base, out, replicas, cpus.toInt, only)
    spark.stop()
  }

  /** Every table this generator can write — the `only` subset is
    * validated against it so a typo fails fast, before any table is
    * written, instead of leaving a partial dir behind. */
  private val AllTables = Set("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def generate(spark: SparkSession, base: String, out: String,
      replicas: Int, parts: Int,
      only: Option[Set[String]] = None): Unit = {
    only.foreach { s =>
      val unknown = s.diff(AllTables)
      require(unknown.isEmpty,
        s"unknown table(s) ${unknown.toSeq.sorted.mkString(",")} in the " +
          s"subset arg — known: ${AllTables.toSeq.sorted.mkString(",")}")
    }
    def tbl(name: String) = spark.read.parquet(s"$base/$name.parquet")
    def write(df: => DataFrame, name: String): Unit =
      if (only.forall(_.contains(name))) {
        df.repartition(parts).write.mode("overwrite")
          .parquet(s"$out/$name.parquet")
        println(s"[gatedata] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
      }
    def shards(src: DataFrame)(f: (DataFrame, Int) => DataFrame) =
      (0 until replicas).map(k => f(src, k)).reduce(_ unionByName _)
    // doubled-digit prefix for name-like columns (edit-pair disjointness)
    def pfx(k: Int, c: org.apache.spark.sql.Column) =
      if (k == 0) c else concat(lit(s"r$k${k}q"), c)

    write(tbl("region"), "region")
    write(tbl("nation"), "nation")
    write(shards(tbl("customer")) { (t, k) =>
      t.select((col("c_custkey") + lit(k * 1000000L)).as("c_custkey"),
        pfx(k, col("c_name")).as("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }, "customer")
    write(shards(tbl("supplier")) { (t, k) =>
      t.select((col("s_suppkey") + lit(k * 1000000L)).as("s_suppkey"),
        pfx(k, col("s_name")).as("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    }, "supplier")
    write(shards(tbl("part")) { (t, k) =>
      t.select((col("p_partkey") + lit(k * 1000000L)).as("p_partkey"),
        pfx(k, col("p_name")).as("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
    }, "part")
    write(shards(tbl("orders")) { (t, k) =>
      t.select((col("o_orderkey") + lit(k * 10000000L)).as("o_orderkey"),
        (col("o_custkey") + lit(k * 1000000L)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, "orders")
    write(shards(tbl("lineitem")) { (t, k) =>
      t.select((col("l_orderkey") + lit(k * 10000000L)).as("l_orderkey"),
        (col("l_partkey") + lit(k * 1000000L)).as("l_partkey"),
        (col("l_suppkey") + lit(k * 1000000L)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }, "lineitem")
    write(shards(graft.model.Tables.events(spark, base)) { (t, k) =>
      t.select((col("event_id") + lit(k * 10000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(k * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")
    write(shards(tbl("documents")) { (t, k) =>
      val text = if (k == 0) col("text")
      else regexp_replace(col("text"), "(\\S+)", s"r${k}q$$1")
      t.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }, "documents")
    // per-replica SIGNED FLIP of embedding coordinates (md5-derived,
    // deterministic): a diagonal ±1 matrix is orthogonal, so norms and
    // every IN-replica inner product are preserved EXACTLY — each
    // replica contributes the same near-dup pairs as the base set —
    // while cross-replica cosine of what used to be verbatim copies
    // drops to ~0 (random-sign inner product). Verbatim replication
    // made q_embed_dedup's pair output a ×417 cross-replica bomb and
    // q_semdedup's ×65 (VERDICT r17 #2), defeating the decade exponent
    // the gate set exists to measure for exactly the near-dup family.
    lazy val embDims = tbl("embeddings")
      .select(size(col("embedding"))).head.getInt(0)
    def flipSigns(k: Int) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until embDims).map { i =>
        if ((md.digest(s"$k:$i".getBytes("UTF-8"))(0) & 1) == 1) -1.0f
        else 1.0f
      }
    }
    write(shards(tbl("embeddings")) { (t, k) =>
      val vec =
        if (k == 0) col("embedding")
        else zip_with(col("embedding"), typedLit(flipSigns(k)),
          (x, s) => x * s)
      t.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }, "embeddings")
  }
}
