package graft

import graft.functions.{st, tx}
import graft.ops.{Dedup, Density, Similarity, SpatialJoin, SpatioTemporal}
import graft.pages.WebPages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver contract: one `queries` entry per implemented operator
 * (SURVEY.md §2), with DuckDB-runnable oracle SQL for every
 * SQL-expressible one. The geoparse/region formulas are SQL fragments
 * shared verbatim with [[graft.pages.WebPages]], so Spark and DuckDB
 * compute bit-identical coordinates (IEEE-exact ops only).
 */
object SparkEntry {
  import WebPages._

  // ---- shared oracle CTEs (DuckDB side of the derivation) ----
  private val CTE_PAGES =
    s"pages AS (SELECT doc_id, text, lang, $LON_EXPR AS lon, $LAT_EXPR AS lat, $SEC_EXPR AS sec FROM documents)"
  private val CTE_TRACK =
    s"track AS (SELECT event_id % 5 AS tid, $T_LON AS t_lon, $T_LAT AS t_lat, $T_SEC AS t_sec FROM events)"
  private val CTE_REGIONS =
    s"regions AS (SELECT s_suppkey AS region_id, $R_XMIN AS xmin, $R_YMIN AS ymin, $R_XMAX AS xmax, $R_YMAX AS ymax FROM supplier)"
  private val CTE_NBOX =
    s"nbox AS (SELECT n_nationkey, $N_XMIN AS xmin, $N_YMIN AS ymin, $N_XMAX AS xmax, $N_YMAX AS ymax FROM nation)"
  private val CTE_CTRS =
    s"ctrs AS (SELECT n_nationkey, $N_CLON AS clon, $N_CLAT AS clat FROM nation)"

  /** Deterministic connected-components edge set (chains with hash gaps
    * inside blocks of 10 doc_ids) — shared verbatim with the DuckDB
    * recursive-CTE oracle so `Dedup.clusters` is driver-graded. */
  private val EDGE_WHERE =
    "(doc_id % 10) < 9 AND ((doc_id * 1103515245 + 12345) % 97) < 40"

  /** Haversine meters between (lon1,lat1) and (lon2,lat2) — the DuckDB side
    * of Geodesy.haversineMeters (same formula, same mean radius). */
  private def HAV(lon1: String, lat1: String, lon2: String, lat2: String): String =
    s"2e0 * 63710088e-1 * asin(least(1e0, sqrt(" +
      s"pow(sin(radians($lat2 - $lat1) / 2e0), 2) + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * pow(sin(radians($lon2 - $lon1) / 2e0), 2))))"

  /** Flagship: point-in-polygon cell-cover join on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_st_contains_join")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- spatial core (reference J2/J4/S1/P3/P7/A1/A2) ----
    "q_st_contains_join" -> ((s, dir) => {
      val polys = regions(s, dir).select("region_id", "region_geom")
      val pts = pages(s, dir).select("doc_id", "geom")
      SpatialJoin.containsJoin(polys, "region_geom", pts, "geom")
        .select("region_id", "doc_id").orderBy("region_id", "doc_id")
    }),
    "q_st_intersects_join" -> ((s, dir) => {
      val nb = nationBoxes(s, dir).select("n_nationkey", "nation_geom")
      val rg = regions(s, dir).select("region_id", "region_geom")
      SpatioTemporal.xzIntersectsJoin(nb, "nation_geom", rg, "region_geom")
        .select("n_nationkey", "region_id").orderBy("n_nationkey", "region_id")
    }),
    "q_st_dwithin_join" -> ((s, dir) => {
      val ctrs = nationCenters(s, dir).select("n_nationkey", "clon", "clat")
      val pts = pages(s, dir).select("doc_id", "lon", "lat")
      SpatialJoin.dwithinDegJoin(ctrs, "clon", "clat", pts, "lon", "lat", 2.0)
        .select("n_nationkey", "doc_id").orderBy("n_nationkey", "doc_id")
    }),
    "q_knn" -> ((s, dir) => {
      val ctrs = nationCenters(s, dir).select("n_nationkey", "clon", "clat")
      val pts = pages(s, dir).select("doc_id", "lon", "lat")
      SpatialJoin.knnPlanar(ctrs, "clon", "clat", pts, "lon", "lat", "doc_id", 5)
        .select("n_nationkey", "doc_id", "rank").orderBy("n_nationkey", "rank")
    }),
    "q_knn_ring" -> ((s, dir) => {
      // the scalable ring-join kNN — must match the same oracle as q_knn
      val ctrs = nationCenters(s, dir).select("n_nationkey", "clon", "clat")
      val pts = pages(s, dir).select("doc_id", "lon", "lat")
      SpatialJoin.knnJoin(ctrs, "n_nationkey", "clon", "clat",
          pts, "lon", "lat", "doc_id", 5, res = 4)
        .select("n_nationkey", "doc_id", "rank").orderBy("n_nationkey", "rank")
    }),
    "q_s2_contains_join" -> ((s, dir) => {
      // the SAME point-in-polygon join routed through the S2-style cube-
      // face Hilbert index (north star: "H3/S2 hierarchical cell
      // indexing") — must produce identical pairs to the Z2 path, so it
      // shares q_st_contains_join's oracle
      SpatialJoin.containsJoinS2(
          regions(s, dir).select("region_id", "xmin", "ymin", "xmax", "ymax", "region_geom"),
          "xmin", "ymin", "xmax", "ymax", "region_geom",
          pages(s, dir).select("doc_id", "lon", "lat"), "lon", "lat")
        .select("region_id", "doc_id").orderBy("region_id", "doc_id")
    }),
    "q_hex_contains_join" -> ((s, dir) => {
      // the SAME point-in-polygon join routed through the hexagonal tier
      // (HexLite — the "H3" half of "H3/S2 hierarchical cell indexing");
      // must produce identical pairs to the Z2/S2 paths, so it shares
      // q_st_contains_join's oracle
      SpatialJoin.containsJoinHex(
          regions(s, dir).select("region_id", "xmin", "ymin", "xmax", "ymax", "region_geom"),
          "xmin", "ymin", "xmax", "ymax", "region_geom",
          pages(s, dir).select("doc_id", "lon", "lat"), "lon", "lat")
        .select("region_id", "doc_id").orderBy("region_id", "doc_id")
    }),
    "q_hex_density" -> ((s, dir) => {
      // hex binning (the standard H3 aggregation use-case); the oracle
      // recomputes the full axial cube-rounding encode in DuckDB SQL from
      // OracleMirror's shared fragments — bit-exact id parity
      pages(s, dir)
        .groupBy(st.hexEncode(col("lon"), col("lat"), lit(2)).as("hex_cell"))
        .agg(count(lit(1)).as("n")).orderBy("hex_cell")
    }),
    "q_hex_rollup" -> ((s, dir) => {
      // hierarchical rollup: fine hexes (res 5) aggregated to their res-2
      // ancestors via the H3-style center-containment parent
      pages(s, dir)
        .withColumn("h5", st.hexEncode(col("lon"), col("lat"), lit(5)))
        .groupBy(st.hexParent(col("h5"), lit(2)).as("hex_parent"))
        .agg(count(lit(1)).as("n")).orderBy("hex_parent")
    }),
    "q_knn_geo" -> ((s, dir) => {
      // geodetic kNN: ranks by haversine METERS (reference NearestNeighbors
      // ranks geodetically) — different neighbor sets than q_knn at high
      // latitudes; oracle ranks by the same haversine in DuckDB
      val ctrs = nationCenters(s, dir).select("n_nationkey", "clon", "clat")
      val pts = pages(s, dir).select("doc_id", "lon", "lat")
      SpatialJoin.knnJoin(ctrs, "n_nationkey", "clon", "clat",
          pts, "lon", "lat", "doc_id", 5, res = 4, geodetic = true)
        .select("n_nationkey", "doc_id", "rank").orderBy("n_nationkey", "rank")
    }),
    "q_bbox_filter" -> ((s, dir) => {
      val box = st.makeBox(lit(-80.0), lit(35.0), lit(-70.0), lit(45.0))
      pages(s, dir).filter(st.contains(box, col("geom")))
        .select("doc_id").orderBy("doc_id")
    }),
    "q_density_grid" -> ((s, dir) => {
      Density.grid(pages(s, dir), col("lon"), col("lat"),
          -180.0, -85.0, 180.0, 85.0, 64, 32)
        .orderBy("cell_x", "cell_y")
    }),
    "q_density_polys" -> ((s, dir) => {
      // non-point density: region POLYGONS rasterized to the cells whose
      // center they contain (reference DensityIterator polygon path);
      // count per cell = number of covering regions
      Density.gridGeom(regions(s, dir).select("region_id", "region_geom"),
          col("region_geom"), -180.0, -85.0, 180.0, 85.0, 64, 32)
        .orderBy("cell_x", "cell_y")
    }),
    "q_temporal_density" -> ((s, dir) => {
      Density.temporal(s.read.parquet(s"$dir/events.parquet"), col("ts"), "hour")
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket_str"), col("n"))
        .orderBy("bucket_str")
    }),
    "q_temporal_filter" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .filter(col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
          col("ts") < to_timestamp(lit("2024-01-20 00:00:00")))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),
    // ---- relational parity anchors (reference A4/A5/W1/W2/J1) ----
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q_join_agg" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),
    "q_topk_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "rn")
        .orderBy("o_orderpriority", "rn")
    }),
    "q_unique_langs" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")
    }),
    "q_props_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .selectExpr("event_type", "CAST(substr(props, 7, length(props) - 7) AS BIGINT) AS k")
        .groupBy("event_type").agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),
    "q_transform_select" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .filter(col("n_chars") > 200)
        .select(col("doc_id"), upper(col("lang")).as("lang_u"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // ---- training-data pipeline ops ----
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(s.read.parquet(s"$dir/documents.parquet"),
          col("text").cast("binary"), col("doc_id"))
        .orderBy("text_hash")
    }),
    "q_text_stats" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet").selectExpr(
        "doc_id",
        "CAST((length(text) - length(replace(text, ' ', ''))) + 1 AS BIGINT) AS n_words",
        "CAST(length(text) AS BIGINT) AS n_chars_m")
        .orderBy("doc_id")
    }),
    // ---- rows-only (no exact SQL analog; verified by ScalaTest oracles) ----
    "q_lang_guess" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy(col("lang"), tx.langGuess(col("text")).as("predicted"))
        .agg(count(lit(1)).as("n")).orderBy("lang", "predicted")
    }),
    "q_quality_tokens" -> ((s, dir) => {
      // quality + token count are arithmetic over character classes — the
      // fixture text is ASCII, so a DuckDB regexp/replace oracle reproduces
      // them bit-for-bit (fingerprints moved to q_fingerprints: custom
      // rolling hashes have no SQL analog)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), tx.qualityScore(col("text")).as("quality"),
          tx.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    }),
    "q_fingerprints" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), tx.fingerprint(col("text"), lit(16)).as("fp"),
          tx.simhash(col("text")).as("simhash"))
        .orderBy("doc_id")
    }),
    "q_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashPairs(s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
        .agg(count(lit(1)).as("n_near_dup_pairs"))
    }),
    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
        .agg(count(lit(1)).as("n_near_dup_pairs"))
    }),
    "q_ann_cosine" -> ((s, dir) => {
      // id-only projection: the ranking (not the float cosine value) is the
      // oracle-checked contract — trig/summation ulp differences between
      // engines cannot flip integer ids unless two cosines tie to ~1e-13
      Similarity.bruteTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        "embedding", "vec_id", annQueryVec, 10).select("vec_id")
    }),
    "q_ann_lsh" -> ((s, dir) => {
      // bits sized so 2^bits ~ corpus/8 buckets at this sf; multiprobe keeps
      // recall when the base bucket is sparse. id-only projection (float
      // cosine stays engine-side); the oracle mirrors the FULL bucket
      // pipeline — plane signs as literals, probe keys precomputed — so the
      // output is exact-match gated, not rows-only
      Similarity.annTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        "embedding", "vec_id", annQueryVec, 10, bits = 8, nprobe = 4)
        .select("vec_id")
    }),
    "q_geohash" -> ((s, dir) => {
      // base-32 geohash string parity (the reference's key format) —
      // DuckDB reproduces the 30-bit lon-first interleave + alphabet map
      pages(s, dir)
        .select(col("doc_id"), st.geohashEncode(col("lon"), col("lat"), lit(6)).as("gh"))
        .orderBy("doc_id")
    }),
    "q_cell_cover" -> ((s, dir) => {
      pages(s, dir)
        .select(col("doc_id"), explode(st.cellCover(col("geom"), lit(8))).as("cell"))
        .orderBy("doc_id", "cell")
    }),
    // ---- spatio-temporal / extents (reference J3/J2/A3/A8/U1) ----
    "q_tube_select" -> ((s, dir) => {
      SpatioTemporal.tubeSelect(
          track(s, dir), "tid", "t_lon", "t_lat", "t_sec",
          pages(s, dir).select("doc_id", "lon", "lat", "sec"),
          "doc_id", "lon", "lat", "sec",
          bufferDeg = 2.0, tolSec = 172800L)
        .orderBy("tid", "doc_id")
    }),
    "q_xz_intersects_join" -> ((s, dir) => {
      val nb = nationBoxes(s, dir).select("n_nationkey", "nation_geom")
      val rg = regions(s, dir).select("region_id", "region_geom")
      SpatioTemporal.xzIntersectsJoin(nb, "nation_geom", rg, "region_geom")
        .select("n_nationkey", "region_id").orderBy("n_nationkey", "region_id")
    }),
    "q_map_agg" -> ((s, dir) => {
      // genuine MapType aggregation (reference MapAggregatingIterator.scala:
      // 40-90 sums Map[K,Long] attributes across rows): build a real
      // map<string,bigint> column from the row, explode, sum per (group, key)
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("m", map(
          lit("k"), expr("CAST(substr(props, 7, length(props) - 7) AS BIGINT)"),
          lit("v100"), expr("CAST(floor(value * 1e2) AS BIGINT)")))
        .select(col("event_type"), explode(col("m")).as(Seq("key", "val")))
        .groupBy("event_type", "key").agg(sum("val").as("total"))
        .orderBy("event_type", "key")
    }),
    "q_surface_tile" -> ((s, dir) => {
      Density.surface(pages(s, dir), col("lon"), col("lat"),
          length(col("text")).cast("long"), -180.0, -85.0, 180.0, 85.0, 32, 16)
        .orderBy("cell_x", "cell_y")
    }),
    "q_union_dedup" -> ((s, dir) => {
      val p = pages(s, dir)
      val a = p.filter(st.contains(st.makeBox(lit(-80.0), lit(35.0), lit(-70.0), lit(45.0)), col("geom")))
      val b = p.filter(st.contains(st.makeBox(lit(-76.0), lit(30.0), lit(-66.0), lit(42.0)), col("geom")))
      a.select("doc_id").union(b.select("doc_id"))
        .dropDuplicates("doc_id").orderBy("doc_id")
    }),
    "q_histogram_grouped" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .orderBy("lang", "source")
    }),
    "q_z3_temporal_bins" -> ((s, dir) => {
      pages(s, dir)
        .filter(st.contains(st.makeBox(lit(-80.0), lit(35.0), lit(-70.0), lit(45.0)), col("geom")))
        .groupBy(st.timeBin(col("sec"), lit(86400L)).as("bin"))
        .agg(count(lit(1)).as("n")).orderBy("bin")
    }),
    "q_id_lookup" -> ((s, dir) => {
      // record-table id scan (reference S2) + id-set intersection (U3):
      // columnar stats pruning replaces the Accumulo record-row ranges
      val wanted = Seq(3L, 17L, 42L, 99L, 123L, 250L, 444L)
      pages(s, dir).filter(col("doc_id").isin(wanted: _*))
        .select("doc_id", "lang", "lon", "lat").orderBy("doc_id")
    }),
    // ---- rows-only (float refine / geodesic — ScalaTest-verified) ----
    "q_proximity_meters" -> ((s, dir) => {
      SpatioTemporal.proximityJoin(
          nationCenters(s, dir).select("n_nationkey", "clon", "clat"), "clon", "clat",
          pages(s, dir).select("doc_id", "lon", "lat"), "lon", "lat", 250000.0)
        .select("n_nationkey", "doc_id").orderBy("n_nationkey", "doc_id")
    }),
    "q_dedup_embedding" -> ((s, dir) => {
      // realistic bucket count (2^12 = 4096 for ~2k-20k vectors) + multiprobe:
      // the candidate join is bounded by bucket size, never ~all-pairs/2^bits
      Similarity.nearDupPairs(s.read.parquet(s"$dir/embeddings.parquet"),
          "embedding", "vec_id", threshold = 0.85, bits = 12, nprobe = 3)
        .agg(count(lit(1)).as("n_near_dup_pairs"))
    }),
    "q_tube_line" -> ((s, dir) => {
      SpatioTemporal.tubeSelectLine(
          track(s, dir), "tid", "t_lon", "t_lat", "t_sec",
          pages(s, dir).select("doc_id", "lon", "lat", "sec"),
          "doc_id", "lon", "lat", "sec",
          bufferDeg = 2.0, tolSec = 172800L, waypoints = 4)
        .orderBy("tid", "doc_id")
    }),
    "q_dedup_clusters" -> ((s, dir) => {
      // connected components over a deterministic SQL-expressible edge set:
      // the full (id, cluster) assignment is oracle-checked against a DuckDB
      // recursive CTE (the minhash-pair integration is covered by
      // q_dedup_minhash + the Jaccard-verified TextOpsSpec)
      val edges = s.read.parquet(s"$dir/documents.parquet")
        .where(expr(EDGE_WHERE))
        .selectExpr("doc_id AS id_a", "doc_id + 1 AS id_b")
      Dedup.clusters(edges, "id_a", "id_b").orderBy("id")
    }),
    "q_ann_ivf" -> ((s, dir) => {
      // IVF output is defined by the trained coarse quantizer (k-means state
      // has no SQL analog), so the gate is a rank-containment bound: all 10
      // returned ids must sit inside the exact brute-force top-30 — the
      // oracle's constant row encodes that claim, and the brute ranking
      // itself is driver-graded by q_ann_cosine's exact-mirror oracle
      val df = s.read.parquet(s"$dir/embeddings.parquet")
      val ivf = Similarity.ivfTopK(df, "embedding", "vec_id", annQueryVec, 10)
        .select("vec_id")
      val margin = Similarity.bruteTopK(df, "embedding", "vec_id", annQueryVec, AnnMargin)
        .select(col("vec_id").as("__bv"))
      ivf.join(margin, col("vec_id") === col("__bv"), "left")
        .agg(count(lit(1)).as("n_results"),
          sum(when(col("__bv").isNull, 1L).otherwise(0L)).as("n_outside_margin"))
    }),
    // ---- physical layout + ingest tier (reference S1/S5/S6 end-to-end:
    //      the AccumuloDataStoreTest write→query→assert spine) ----
    "q_layout_scan" -> ((s, dir) => {
      // READ gate: coarse bucket pruning + fine cell ranges → exact refine
      // over the once-per-JVM layout ([[layoutFor]] writes it on first
      // touch); the oracle is the plain bbox filter, so a green row proves
      // the write/prune/read path returns exactly the base-table answer
      // (no loss, no duplicates). The WRITE path is timed separately by
      // q_layout_write so read-path regressions localize.
      val out = layoutFor(s, dir)
      graft.layout.CellLayout.read(s, out, queryBox = Some((-80.0, 35.0, -70.0, 45.0)))
        .filter(col("lon") > -80.0 && col("lon") < -70.0 &&
          col("lat") > 35.0 && col("lat") < 45.0)
        .select("doc_id").orderBy("doc_id")
    }),
    "q_layout_write" -> ((s, dir) => {
      // WRITE gate: full checkpointed CellLayout write (waves + manifest +
      // snapshots) into a FRESH dir every run; the returned manifest totals
      // are oracle-checked (row conservation + the exact res-3 bucket set
      // cardinality), and the bench timing isolates the write path
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_lwrite_${Integer.toHexString(dir.hashCode)}").getAbsolutePath
      rmrf(new java.io.File(out))
      val keyed = graft.layout.CellLayout.withCellKeys(
        pages(s, dir).select("doc_id", "lon", "lat"),
        col("lon"), col("lat"), col("doc_id"), bucketRes = 3)
      val manifest = graft.layout.CellLayout.write(keyed, out, s"$dir/documents.parquet")
      import s.implicits._
      Seq((manifest.valuesIterator.map(_.rows).sum, manifest.size.toLong))
        .toDF("n_rows", "n_buckets")
    }),
    "q_csv_roundtrip" -> ((s, dir) => {
      // delimited export → re-ingest (schema + geometry derivation) → agg;
      // Java shortest-repr double round-trips exactly through CSV, so the
      // box filter over re-parsed coordinates matches the parquet oracle
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_csv_${Integer.toHexString(dir.hashCode)}").getAbsolutePath
      pages(s, dir).select("doc_id", "lang", "lon", "lat")
        .write.option("header", "true").mode("overwrite").csv(out)
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("lon", DoubleType),
        StructField("lat", DoubleType)))
      graft.sources.IngestExport.csv(s, out, schema, "lon", "lat")
        .filter(st.contains(st.makeBox(lit(-80.0), lit(35.0), lit(-70.0), lit(45.0)), col("geom")))
        .groupBy("lang").agg(count(lit(1)).as("n"), sum("doc_id").as("sum_id"))
        .orderBy("lang")
    }),
    "q_geoparse" -> ((s, dir) => {
      // geoparse pipeline (north star: "geoparsing page text/metadata into
      // geometries"): pages whose html head carries a geo.position meta tag
      // → regexp extraction → typed lon/lat; untagged rows drop out. The
      // oracle computes the same coordinates arithmetically, so the gate
      // proves the build→parse→cast round trip bit-for-bit.
      WebPages.geoparse(WebPages.pagesWithGeoTags(s, dir))
        .filter(col("geo_lon").isNotNull)
        .select("doc_id", "geo_lon", "geo_lat").orderBy("doc_id")
    }),
    "q_cql_filter" -> ((s, dir) => {
      // ECQL string front-end (reference: every query carries a GeoTools-
      // parsed ECQL filter; corpus geomesa-core/src/test/.../TestFilters.scala):
      // a composite spatial + temporal + attribute filter parsed by
      // graft.cql.Ecql into the same St* expression trees the typed API
      // builds. Box edges sit at .0005° so no milli-degree point can land
      // exactly on a boundary; DURING is the strict interior. The DURING
      // window sits INSIDE the reachable warc_ts range (2011-06-01 +
      // doc_id-seconds, doc_id < 500 at the GATE's sf0.01 — 5000 at sf0.1),
      // so the gate selects a non-trivial row set at every shipped scale —
      // each conjunct prunes real rows.
      graft.cql.Ecql.where(pages(s, dir),
        "INTERSECTS(geom, POLYGON ((-100.0005 20.0005, -60.0005 20.0005, " +
          "-60.0005 50.0005, -100.0005 50.0005, -100.0005 20.0005))) AND " +
          "warc_ts DURING 2011-06-01T00:01:00Z/2011-06-01T00:05:00Z AND " +
          "lang IN ('en', 'de') AND text LIKE '%the%' AND doc_id IS NOT NULL")
        .select("doc_id", "lang").orderBy("doc_id")
    }),
    "q_avro_roundtrip" -> ((s, dir) => {
      // Avro container write (one file per partition, on the executors) →
      // distributed container read → agg; lang is nullable so the write and
      // read both exercise the ["null", T] union path (reference S7
      // AvroFeatureDecoder + the convert-avro ingest)
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_avro_${Integer.toHexString(dir.hashCode)}").getAbsolutePath
      rmrf(new java.io.File(out))
      graft.sources.IngestExport.writeAvro(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "lang", "n_chars"), out)
      graft.sources.IngestExport.avro(s, out)
        .groupBy("lang").agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    }),
    "q_fixedwidth_roundtrip" -> ((s, dir) => {
      // fixed-width export (format_string, distributed) → fixed-width
      // ingest (reference S8: column start/width/type spec) → filter + agg
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_fw_${Integer.toHexString(dir.hashCode)}").getAbsolutePath
      rmrf(new java.io.File(out))
      // widths enforced EXPLICITLY (lpad/rpad truncate-and-pad): java's
      // format_string neither truncates over-width values nor renders NULL
      // as spaces (it emits the literal "null"), either of which would
      // silently shift the fixed layout — lpad/rpad keep every row exactly
      // 26 bytes whatever the data does
      s.read.parquet(s"$dir/documents.parquet")
        .select(concat(
          lpad(col("doc_id").cast("string"), 10, " "),
          rpad(substring(coalesce(col("lang"), lit("")), 1, 4), 4, " "),
          lpad(col("n_chars").cast("string"), 12, " ")).as("value"))
        .write.mode("overwrite").text(out)
      graft.sources.IngestExport.fixedWidth(s, out, Seq(
          ("doc_id", 1, 10, "bigint"), ("lang", 11, 4, "string"), ("n_chars", 15, 12, "bigint")))
        .filter(col("n_chars") > 200)
        .groupBy("lang").agg(count(lit(1)).as("n"), sum("doc_id").as("sum_id"))
        .orderBy("lang")
    }),
    "q_geojson_roundtrip" -> ((s, dir) => {
      // GeoJSON export (reference S10, FeatureExporter.scala:46-129) →
      // re-parse (from_json) → box filter + agg: a green row proves the
      // render→parse round trip preserves ids and coordinates bit-exactly
      // (Double.toString shortest-repr parses back to the same double, and
      // the oracle aggregates the ORIGINAL parquet doubles)
      import org.apache.spark.sql.types._
      val gjSchema = StructType(Seq(
        StructField("id", StringType),
        StructField("geometry", StructType(Seq(
          StructField("type", StringType),
          StructField("coordinates", ArrayType(DoubleType)))))))
      graft.sources.IngestExport.toGeoJson(
          pages(s, dir).select("doc_id", "geom"), "geom", "doc_id")
        .select(from_json(col("feature"), gjSchema).as("f"))
        .select(col("f.id").cast("long").as("doc_id"),
          element_at(col("f.geometry.coordinates"), 1).as("lon"),
          element_at(col("f.geometry.coordinates"), 2).as("lat"))
        .filter(col("lon") > -80.0 && col("lon") < -70.0 &&
          col("lat") > 35.0 && col("lat") < 45.0)
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_id"),
          min("lon").as("min_lon"), max("lat").as("max_lat"))
    }),
    "q_gml_roundtrip" -> ((s, dir) => {
      // GML 2 export (reference S10 GmlExport) → re-extract fid/coords →
      // box filter + agg, the q_geojson_roundtrip pattern: Double.toString
      // shortest-repr casts back to the same double, the oracle aggregates
      // the ORIGINAL parquet doubles
      graft.sources.IngestExport.toGml(
          pages(s, dir).select("doc_id", "geom"), "geom", "doc_id")
        .select(
          regexp_extract(col("feature"), "fid=\"([^\"]+)\"", 1).cast("long").as("doc_id"),
          regexp_extract(col("feature"), "<gml:coordinates>([^,]+),", 1).cast("double").as("lon"),
          regexp_extract(col("feature"), ",([^<]+)</gml:coordinates>", 1).cast("double").as("lat"))
        .filter(col("lon") > -80.0 && col("lon") < -70.0 &&
          col("lat") > 35.0 && col("lat") < 45.0)
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_id"),
          min("lon").as("min_lon"), max("lat").as("max_lat"))
    }),
    "q_bin_roundtrip" -> ((s, dir) => {
      // BIN viewer export (reference F6: 16-byte LE records) → decode →
      // agg; lat/lon pass through a float32 round-trip (IEEE
      // round-to-nearest then exact widening — identical in DuckDB), sec
      // through int32
      val p = pages(s, dir).select("doc_id", "lon", "lat", "sec")
      val bins = graft.sources.IngestExport.toBin(
        p, col("doc_id"), col("lat"), col("lon"), col("sec"))
      graft.sources.IngestExport.fromBin(bins, "bin")
        .agg(count(lit(1)).as("n"), sum(col("sec").cast("long")).as("sum_sec"),
          min(col("lat").cast("double")).as("min_lat"),
          max(col("lon").cast("double")).as("max_lon"))
    }),
    "q_layout_stats" -> ((s, dir) => {
      // manifest-only count + bounds estimates (reference A6/A7: record-
      // table entry count, catalog-metadata bounds — no scan) over the
      // shared once-per-JVM layout; the oracle recomputes the same
      // bucket-cell-snapped bounds arithmetically
      val out = layoutFor(s, dir)
      val n = graft.layout.CellLayout.countEstimate(out)
      val (x0, y0, x1, y1) = graft.layout.CellLayout.boundsEstimate(out).get
      import s.implicits._
      Seq((n, x0, y0, x1, y1)).toDF("n_rows", "xmin", "ymin", "xmax", "ymax")
    }),
    "q_liveview_upsert" -> ((s, dir) => {
      // upsert-by-id live view (reference T1/T2, KafkaConsumerFeatureSource:
      // one live version per feature id, deletes drop it) driven through a
      // REAL StreamingQuery (MemoryStream → mapGroupsWithState → memory
      // sink); the oracle is the batch latest-per-id window. The collect is
      // the stream feed fixture, not the operator.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.LiveView
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val evs = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id").cast("string").as("id"),
          ((col("event_id") * 7) % 360 - 180).cast("double").as("lon"),
          ((col("event_id") * 11) % 170 - 85).cast("double").as("lat"),
          // ts is TIMESTAMP_NTZ in the parquet; NTZ→LTZ under the UTC
          // session matches DuckDB's epoch_ms of the naive timestamp
          unix_millis(col("ts").cast("timestamp")).as("tsMillis"),
          when(col("event_type") === "error", "delete").otherwise("upsert").as("op"))
        .as[LiveView.FeatureEvent].collect()
      val input = MemoryStream[LiveView.FeatureEvent]
      input.addData(evs.toSeq)
      // unique sink view per invocation so the query is re-runnable in one
      // session (Bench times every query twice)
      val sink = s"q_liveview_sink_${liveviewRuns.incrementAndGet()}"
      // size the state store to the keyed-stream cardinality (150 keys),
      // not the CPU count — stateful-operator partitioning is fixed at
      // query start from shuffle.partitions (the production sizing knob)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      val q =
        try LiveView.liveState(input.toDS()).writeStream
          .format("memory").queryName(sink)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
        finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      try { q.processAllAvailable() } finally q.stop()
      s.table(sink).filter(col("alive"))
        .select(col("id"), col("lon"), col("lat"), col("tsMillis").as("ts_millis"))
        .orderBy("id")
    }),
    "q_liveview_window" -> ((s, dir) => {
      // TTL view + bbox on the live window (reference T1/T3: Guava
      // expireAfterWrite read-side visibility + the quadtree BBOX query),
      // driven through the same REAL StreamingQuery as q_liveview_upsert;
      // the oracle is the batch latest-per-id window with the same TTL and
      // box conditions (integer lon/lat/millis — no FP ambiguity)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.LiveView
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val evs = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id").cast("string").as("id"),
          ((col("event_id") * 7) % 360 - 180).cast("double").as("lon"),
          ((col("event_id") * 11) % 170 - 85).cast("double").as("lat"),
          unix_millis(col("ts").cast("timestamp")).as("tsMillis"),
          when(col("event_type") === "error", "delete").otherwise("upsert").as("op"))
        .as[LiveView.FeatureEvent].collect()
      val input = MemoryStream[LiveView.FeatureEvent]
      input.addData(evs.toSeq)
      val sink = s"q_liveview_win_${liveviewRuns.incrementAndGet()}"
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      val q =
        try LiveView.liveState(input.toDS()).writeStream
          .format("memory").queryName(sink)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
        finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      try { q.processAllAvailable() } finally q.stop()
      val asOf = evs.iterator.map(_.tsMillis).max // fixture metadata, not operator work
      val live = s.table(sink).as[LiveView.LiveFeature]
      LiveView.bboxView(LiveView.withTtl(live, LiveViewTtlMillis, asOf),
          -120.0, -60.0, 120.0, 60.0)
        .select(col("id"), col("lon"), col("lat"), col("tsMillis").as("ts_millis"))
        .orderBy("id")
    }),
    "q_world_elide" -> ((s, dir) => {
      // whole-world BBOX (reference P6: filter.isFilterWholeWorld →
      // Filter.INCLUDE): the optimizer elides the predicate to a null check
      // (plan asserted in SpatialRulesSpec); this gate proves the elided
      // query still returns exactly the base aggregate end-to-end
      val world = st.makeBox(lit(-180.0), lit(-90.0), lit(180.0), lit(90.0))
      pages(s, dir).filter(st.intersects(world, col("geom")))
        .groupBy("lang").agg(count(lit(1)).as("n"), sum("doc_id").as("sum_id"))
        .orderBy("lang")
    }),
    "q_idl_bbox" -> ((s, dir) => {
      // antimeridian-crossing BBOX (reference P5,
      // getInternationalDateLineSafeGeometry): xmin > xmax wraps across
      // ±180 and splits into two boxes; edges on +0.0005 half-steps so no
      // point sits on a boundary (coords have 1/1000-degree granularity)
      SpatialJoin.bboxFilter(pages(s, dir), col("geom"),
          170.0005, -20.0005, -170.0005, 20.0005)
        .select("doc_id").orderBy("doc_id")
    }),
    "q_geom_fns" -> ((s, dir) => {
      // geometry-function tier (reference F2) e2e on integer-coordinate
      // geometries, where every JTS computation is FP-exact (integer
      // shoelace sums, even-dimension centroids, 3-4-5 segment lengths,
      // disjoint-union areas), so plain-SQL arithmetic is a bit-exact
      // oracle — same trick as the roundtrip gates
      val n = s.read.parquet(s"$dir/nation.parquet").selectExpr("n_nationkey",
        s"$GFX0 AS x0", s"$GFY0 AS y0", s"$GFW AS w", s"$GFH AS h", s"$GFK AS k")
      val boxWkt = expr("concat('POLYGON ((', x0, ' ', y0, ', ', x0+w, ' ', y0, ', ', " +
        "x0+w, ' ', y0+h, ', ', x0, ' ', y0+h, ', ', x0, ' ', y0, '))')")
      val box2Wkt = expr("concat('POLYGON ((', x0+100, ' ', y0, ', ', x0+100+w, ' ', y0, ', ', " +
        "x0+100+w, ' ', y0+h, ', ', x0+100, ' ', y0+h, ', ', x0+100, ' ', y0, '))')")
      val lineWkt = expr("concat('LINESTRING (', x0, ' ', y0, ', ', x0+3*k, ' ', y0+4*k, ', ', " +
        "x0+6*k, ' ', y0+8*k, ')')")
      // g3 shifts by 1 (k=1: overlaps g, since w >= 2) or by 100 (disjoint)
      val box3Wkt = expr("concat('POLYGON ((', x0+s, ' ', y0, ', ', x0+s+w, ' ', y0, ', ', " +
        "x0+s+w, ' ', y0+h, ', ', x0+s, ' ', y0+h, ', ', x0+s, ' ', y0, '))')")
      n.withColumn("s", expr("CASE WHEN k = 1 THEN 1 ELSE 100 END"))
        .withColumn("g", st.geomFromWKT(boxWkt))
        .withColumn("g2", st.geomFromWKT(box2Wkt))
        .withColumn("g3", st.geomFromWKT(box3Wkt))
        .withColumn("l", st.geomFromWKT(lineWkt))
        .select(col("n_nationkey"),
          st.area(col("g")).as("area"),
          st.lengthGeom(col("g")).as("perim"),
          st.x(st.centroid(col("g"))).as("cx"),
          st.y(st.centroid(col("g"))).as("cy"),
          st.xmin(st.envelope(col("g"))).as("exmin"),
          st.ymax(st.envelope(col("g"))).as("eymax"),
          st.lengthGeom(col("l")).as("line_len"),
          st.geometryType(col("g")).as("gtype"),
          st.area(st.unionGeom(col("g"), col("g2"))).as("union_area"),
          st.distance(col("g"), col("g2")).as("dist"),
          st.relate(col("g"), col("g3"), lit("T********")).as("rel"))
        .orderBy("n_nationkey")
    }),
    "q_dms_roundtrip" -> ((s, dir) => {
      // DMS round-trip (reference F9, csv/DMS.scala): deg → "dd:mm:ss.ssH"
      // → deg; the oracle reproduces the format+parse arithmetic exactly
      // (round to centiseconds, integer split, same-order IEEE rebuild)
      pages(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          tx.dmsToDeg(tx.degToDms(col("lat"), lit(true))).as("lat_q"),
          tx.dmsToDeg(tx.degToDms(col("lon"), lit(false))).as("lon_q"))
        .orderBy("doc_id")
    }),
    "q_track_bins" -> ((s, dir) => {
      // track time-binning (reference W4, TubeBuilder.timeBinAndUnion):
      // ntile over a UNIQUE time key (event_id) so the bin assignment is
      // deterministic in both engines; the FP-sum-order-dependent centroid
      // columns are computed but not gated
      val ev = s.read.parquet(s"$dir/events.parquet").selectExpr(
        "event_id % 5 AS tid", s"$T_LON AS t_lon", s"$T_LAT AS t_lat",
        "event_id AS t_sec")
      graft.sources.IngestExport.binTrack(ev, "tid", "t_lon", "t_lat", "t_sec", 8)
        .select("tid", "bin", "t_min", "t_max", "n_points")
        .orderBy("tid", "bin")
    })
  )

  // ---- q_geom_fns integer-geometry derivations (shared with the oracle:
  // pure int64 arithmetic, identical in Spark and DuckDB) ----
  private val GFX0 = "(-120 + (n_nationkey % 12) * 19)"
  private val GFY0 = "(-60 + (n_nationkey % 6) * 21)"
  private val GFW = "(2 * (1 + (n_nationkey % 5)))"
  private val GFH = "(2 * (1 + (n_nationkey % 4)))"
  private val GFK = "(1 + (n_nationkey % 3))"

  /** 12-hour TTL for the live-window gate: at every shipped sf the TTL
    * both EVICTS and KEEPS ids (sf0.01: 43 of 57 survive) — a longer TTL
    * would be vacuous because each user's latest event clusters near the
    * end of the 30-day fixture window. */
  val LiveViewTtlMillis: Long = 12L * 3600 * 1000

  /** Brute-force rank margin for the ANN containment gates. */
  val AnnMargin = 30

  private val liveviewRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Once-per-JVM CellLayout write for `dir` (fresh on first touch), shared
    * by the READ-path gates q_layout_scan/q_layout_stats; q_layout_write
    * exercises the write path fresh every run. Splitting the two keeps a
    * write-path regression from masquerading as a read-path one (and vice
    * versa) in the per-round bench. */
  private val layoutDirs = scala.collection.concurrent.TrieMap[String, String]()
  private def layoutFor(s: SparkSession, dir: String): String =
    layoutDirs.getOrElseUpdate(dir, {
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_layout_${Integer.toHexString(dir.hashCode)}").getAbsolutePath
      rmrf(new java.io.File(out))
      // bucketRes sized to the table (64 world buckets at test sf — the
      // layout knob a 100-TB table sets to the default 6/4096); read()
      // infers the written resolution from the manifest
      val keyed = graft.layout.CellLayout.withCellKeys(
        pages(s, dir).select("doc_id", "lon", "lat"),
        col("lon"), col("lat"), col("doc_id"), bucketRes = 3)
      graft.layout.CellLayout.write(keyed, out, s"$dir/documents.parquet")
      out
    })

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(): Unit
  }

  /** Deterministic 64-dim query vector for the ANN queries. */
  val annQueryVec: Array[Float] = Array.tabulate(64)(i => ((i * 37 % 19) - 9) / 10.0f)

  def oracleSql: Map[String, String] = Map(
    "q_st_contains_join" ->
      s"""WITH $CTE_PAGES, $CTE_REGIONS
         |SELECT r.region_id, p.doc_id FROM pages p JOIN regions r
         |ON p.lon > r.xmin AND p.lon < r.xmax AND p.lat > r.ymin AND p.lat < r.ymax
         |ORDER BY r.region_id, p.doc_id""".stripMargin,
    "q_st_intersects_join" ->
      s"""WITH $CTE_NBOX, $CTE_REGIONS
         |SELECT n.n_nationkey, r.region_id FROM nbox n JOIN regions r
         |ON NOT (n.xmax < r.xmin OR r.xmax < n.xmin OR n.ymax < r.ymin OR r.ymax < n.ymin)
         |ORDER BY n.n_nationkey, r.region_id""".stripMargin,
    "q_st_dwithin_join" ->
      s"""WITH $CTE_PAGES, $CTE_CTRS
         |SELECT c.n_nationkey, p.doc_id FROM pages p JOIN ctrs c
         |ON (p.lon - c.clon) * (p.lon - c.clon) + (p.lat - c.clat) * (p.lat - c.clat) < 4e0
         |ORDER BY c.n_nationkey, p.doc_id""".stripMargin,
    "q_knn" ->
      s"""WITH $CTE_PAGES, $CTE_CTRS,
         |d AS (SELECT c.n_nationkey, p.doc_id,
         |  (p.lon - c.clon) * (p.lon - c.clon) + (p.lat - c.clat) * (p.lat - c.clat) AS dist2
         |  FROM ctrs c CROSS JOIN pages p)
         |SELECT n_nationkey, doc_id, rank FROM (
         |  SELECT n_nationkey, doc_id,
         |    CAST(row_number() OVER (PARTITION BY n_nationkey ORDER BY dist2 ASC, doc_id ASC) AS BIGINT) AS rank
         |  FROM d) WHERE rank <= 5
         |ORDER BY n_nationkey, rank""".stripMargin,
    "q_knn_ring" ->
      s"""WITH $CTE_PAGES, $CTE_CTRS,
         |d AS (SELECT c.n_nationkey, p.doc_id,
         |  (p.lon - c.clon) * (p.lon - c.clon) + (p.lat - c.clat) * (p.lat - c.clat) AS dist2
         |  FROM ctrs c CROSS JOIN pages p)
         |SELECT n_nationkey, doc_id, rank FROM (
         |  SELECT n_nationkey, doc_id,
         |    CAST(row_number() OVER (PARTITION BY n_nationkey ORDER BY dist2 ASC, doc_id ASC) AS BIGINT) AS rank
         |  FROM d) WHERE rank <= 5
         |ORDER BY n_nationkey, rank""".stripMargin,
    "q_s2_contains_join" ->
      s"""WITH $CTE_PAGES, $CTE_REGIONS
         |SELECT r.region_id, p.doc_id FROM pages p JOIN regions r
         |ON p.lon > r.xmin AND p.lon < r.xmax AND p.lat > r.ymin AND p.lat < r.ymax
         |ORDER BY r.region_id, p.doc_id""".stripMargin,
    "q_hex_contains_join" ->
      s"""WITH $CTE_PAGES, $CTE_REGIONS
         |SELECT r.region_id, p.doc_id FROM pages p JOIN regions r
         |ON p.lon > r.xmin AND p.lon < r.xmax AND p.lat > r.ymin AND p.lat < r.ymax
         |ORDER BY r.region_id, p.doc_id""".stripMargin,
    "q_hex_density" ->
      s"""WITH $CTE_PAGES
         |SELECT ${OracleMirror.hexIdSql("lon", "lat", 2)} AS hex_cell, COUNT(*) AS n
         |FROM pages GROUP BY 1 ORDER BY hex_cell""".stripMargin,
    "q_hex_rollup" -> {
      // the exact op sequence of HexLite.parent(HexLite.encode(lon,lat,5),2):
      // res-5 axial → cube round → scale by exact 2^-3 → cube round → pack
      // (axial coords are linear, so the parent needs no geometric
      // center round-trip — see HexLite.parent)
      val (qf5, rf5) = OracleMirror.hexAxialSql("lon", "lat", 5)
      val (qd5, rd5) = OracleMirror.hexRoundedSql("qf", "rf")
      val u = OracleMirror.hexScaleLit(3)
      val (q2, r2) = OracleMirror.hexRoundedSql(s"(qd * $u)", s"(rd * $u)")
      s"""WITH $CTE_PAGES,
         |ax AS (SELECT doc_id, $qf5 AS qf, $rf5 AS rf FROM pages),
         |rd AS (SELECT doc_id, $qd5 AS qd, $rd5 AS rd FROM ax)
         |SELECT ${OracleMirror.hexPackSql(q2, r2, 2)} AS hex_parent, COUNT(*) AS n
         |FROM rd GROUP BY 1 ORDER BY hex_parent""".stripMargin
    },
    "q_knn_geo" ->
      s"""WITH $CTE_PAGES, $CTE_CTRS,
         |d AS (SELECT c.n_nationkey, p.doc_id,
         |  ${HAV("c.clon", "c.clat", "p.lon", "p.lat")} AS dm
         |  FROM ctrs c CROSS JOIN pages p)
         |SELECT n_nationkey, doc_id, rank FROM (
         |  SELECT n_nationkey, doc_id,
         |    CAST(row_number() OVER (PARTITION BY n_nationkey ORDER BY dm ASC, doc_id ASC) AS BIGINT) AS rank
         |  FROM d) WHERE rank <= 5
         |ORDER BY n_nationkey, rank""".stripMargin,
    "q_bbox_filter" ->
      s"""WITH $CTE_PAGES
         |SELECT doc_id FROM pages
         |WHERE lon > -80e0 AND lon < -70e0 AND lat > 35e0 AND lat < 45e0
         |ORDER BY doc_id""".stripMargin,
    "q_density_grid" ->
      s"""WITH $CTE_PAGES
         |SELECT CAST(FLOOR((lon - (-180e0)) / 360e0 * 64) AS BIGINT) AS cell_x,
         |       CAST(FLOOR((lat - (-85e0)) / 170e0 * 32) AS BIGINT) AS cell_y,
         |       COUNT(*) AS n
         |FROM pages
         |WHERE lon >= -180e0 AND lon < 180e0 AND lat >= -85e0 AND lat < 85e0
         |GROUP BY 1, 2 ORDER BY cell_x, cell_y""".stripMargin,
    "q_temporal_density" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_str, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY bucket_str""".stripMargin,
    "q_temporal_filter" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_agg" ->
      """SELECT c_mktsegment, COUNT(*) AS n FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q_topk_window" ->
      """SELECT o_orderpriority, o_orderkey, rn FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "q_unique_langs" ->
      "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang ORDER BY lang",
    "q_props_agg" ->
      """SELECT event_type, CAST(SUM(CAST(substr(props, 7, length(props) - 7) AS BIGINT)) AS BIGINT) AS sum_k, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_transform_select" ->
      """SELECT doc_id, upper(lang) AS lang_u, n_chars FROM documents
        |WHERE n_chars > 200 ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST((length(text) - length(replace(text, ' ', ''))) + 1 AS BIGINT) AS n_words,
        |  CAST(length(text) AS BIGINT) AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_tube_select" ->
      s"""WITH $CTE_PAGES, $CTE_TRACK
         |SELECT DISTINCT t.tid, p.doc_id FROM track t JOIN pages p
         |ON (p.lon - t.t_lon) * (p.lon - t.t_lon) + (p.lat - t.t_lat) * (p.lat - t.t_lat) < 4e0
         |AND abs(p.sec - t.t_sec) <= 172800
         |ORDER BY t.tid, p.doc_id""".stripMargin,
    "q_xz_intersects_join" ->
      s"""WITH $CTE_NBOX, $CTE_REGIONS
         |SELECT n.n_nationkey, r.region_id FROM nbox n JOIN regions r
         |ON NOT (n.xmax < r.xmin OR r.xmax < n.xmin OR n.ymax < r.ymin OR r.ymax < n.ymin)
         |ORDER BY n.n_nationkey, r.region_id""".stripMargin,
    "q_map_agg" ->
      """SELECT event_type, key, CAST(SUM(val) AS BIGINT) AS total FROM (
        |  SELECT event_type, 'k' AS key, CAST(substr(props, 7, length(props) - 7) AS BIGINT) AS val FROM events
        |  UNION ALL
        |  SELECT event_type, 'v100' AS key, CAST(FLOOR(value * 1e2) AS BIGINT) AS val FROM events)
        |GROUP BY 1, 2 ORDER BY event_type, key""".stripMargin,
    "q_surface_tile" ->
      s"""WITH $CTE_PAGES
         |SELECT CAST(FLOOR((lon - (-180e0)) / 360e0 * 32) AS BIGINT) AS cell_x,
         |       CAST(FLOOR((lat - (-85e0)) / 170e0 * 16) AS BIGINT) AS cell_y,
         |       MAX(CAST(length(text) AS BIGINT)) AS v
         |FROM pages
         |WHERE lon >= -180e0 AND lon < 180e0 AND lat >= -85e0 AND lat < 85e0
         |GROUP BY 1, 2 ORDER BY cell_x, cell_y""".stripMargin,
    "q_union_dedup" ->
      s"""WITH $CTE_PAGES
         |SELECT DISTINCT doc_id FROM pages
         |WHERE (lon > -80e0 AND lon < -70e0 AND lat > 35e0 AND lat < 45e0)
         |   OR (lon > -76e0 AND lon < -66e0 AND lat > 30e0 AND lat < 42e0)
         |ORDER BY doc_id""".stripMargin,
    "q_histogram_grouped" ->
      """SELECT lang, source, COUNT(*) AS n FROM documents
        |GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,
    "q_z3_temporal_bins" ->
      s"""WITH $CTE_PAGES
         |SELECT CAST(FLOOR(sec / 86400e0) AS BIGINT) AS bin, COUNT(*) AS n
         |FROM pages
         |WHERE lon > -80e0 AND lon < -70e0 AND lat > 35e0 AND lat < 45e0
         |GROUP BY 1 ORDER BY bin""".stripMargin,
    "q_id_lookup" ->
      s"""WITH $CTE_PAGES
         |SELECT doc_id, lang, lon, lat FROM pages
         |WHERE doc_id IN (3, 17, 42, 99, 123, 250, 444)
         |ORDER BY doc_id""".stripMargin,
    "q_proximity_meters" ->
      s"""WITH $CTE_PAGES, $CTE_CTRS
         |SELECT c.n_nationkey, p.doc_id FROM pages p JOIN ctrs c
         |ON ${HAV("c.clon", "c.clat", "p.lon", "p.lat")} < 250000e0
         |ORDER BY c.n_nationkey, p.doc_id""".stripMargin,
    "q_tube_line" ->
      s"""WITH $CTE_PAGES, $CTE_TRACK,
         |seg AS (SELECT tid, t_lon, t_lat, t_sec,
         |  lead(t_lon) OVER w AS nlon, lead(t_lat) OVER w AS nlat, lead(t_sec) OVER w AS nsec
         |  FROM track WINDOW w AS (PARTITION BY tid ORDER BY t_sec)),
         |dens AS (SELECT tid,
         |  CASE WHEN nlon IS NOT NULL THEN t_lon + (nlon - t_lon) * i / 4 ELSE t_lon END AS t_lon,
         |  CASE WHEN nlat IS NOT NULL THEN t_lat + (nlat - t_lat) * i / 4 ELSE t_lat END AS t_lat,
         |  CASE WHEN nsec IS NOT NULL THEN t_sec + CAST(FLOOR((nsec - t_sec) * i / 4) AS BIGINT) ELSE t_sec END AS t_sec
         |  FROM seg CROSS JOIN generate_series(0, 3) g(i) WHERE i = 0 OR nlon IS NOT NULL)
         |SELECT DISTINCT t.tid, p.doc_id FROM dens t JOIN pages p
         |ON (p.lon - t.t_lon) * (p.lon - t.t_lon) + (p.lat - t.t_lat) * (p.lat - t.t_lat) < 4e0
         |AND abs(p.sec - t.t_sec) <= 172800
         |ORDER BY t.tid, p.doc_id""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE edges AS (
         |  SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE $EDGE_WHERE),
         |bi AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
         |nodes AS (SELECT DISTINCT src AS id FROM bi),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT b.dst, reach.r FROM reach JOIN bi b ON b.src = reach.id)
         |SELECT id, MIN(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin,
    "q_geohash" -> {
      val chars = (0 until 6).map(k =>
        s"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((z >> ${25 - 5 * k}) & 31) AS INT) + 1, 1)")
        .mkString(" || ")
      s"""WITH $CTE_PAGES,
         |xy AS (SELECT doc_id,
         |  LEAST(32767, GREATEST(0, CAST(FLOOR((lon + 180e0) / 360e0 * 32768) AS BIGINT))) AS x,
         |  LEAST(32767, GREATEST(0, CAST(FLOOR((lat + 90e0) / 180e0 * 32768) AS BIGINT))) AS y FROM pages),
         |s1 AS (SELECT doc_id, (x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y FROM xy),
         |s2 AS (SELECT doc_id, (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y FROM s1),
         |s3 AS (SELECT doc_id, (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y FROM s2),
         |s4 AS (SELECT doc_id, (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y FROM s3),
         |z AS (SELECT doc_id, (x << 1) | y AS z FROM s4)
         |SELECT doc_id, $chars AS gh FROM z ORDER BY doc_id""".stripMargin
    },
    "q_cell_cover" ->
      s"""WITH $CTE_PAGES,
         |xy AS (SELECT doc_id,
         |  LEAST(255, GREATEST(0, CAST(FLOOR((lon + 180e0) / 360e0 * 256) AS BIGINT))) AS x,
         |  LEAST(255, GREATEST(0, CAST(FLOOR((lat + 90e0) / 180e0 * 256) AS BIGINT))) AS y FROM pages),
         |s1 AS (SELECT doc_id, (x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y FROM xy),
         |s2 AS (SELECT doc_id, (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y FROM s1),
         |s3 AS (SELECT doc_id, (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y FROM s2),
         |s4 AS (SELECT doc_id, (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y FROM s3)
         |SELECT doc_id, ((x | (y << 1)) << 5) | 8 AS cell FROM s4 ORDER BY doc_id, cell""".stripMargin,
    "q_dedup_minhash" ->
      // GROUND-TRUTH oracle: DuckDB computes the exact all-pairs trigram-
      // Jaccard >= 0.6 count; matching it proves the LSH candidate
      // generation reaches 100% recall on this corpus (the exact-verify
      // step already guarantees zero false positives)
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |tri AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 1),
        |  i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS gs FROM tok WHERE len(ts) >= 3),
        |e AS (SELECT doc_id, unnest(gs) AS g FROM tri),
        |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(gs) AS n FROM tri)
        |SELECT CAST(count(*) AS BIGINT) AS n_near_dup_pairs FROM inter
        |JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 6e-1""".stripMargin,
    "q_dedup_embedding" ->
      // same ground-truth shape for the embedding path: exact all-pairs
      // cosine count at the gate threshold
      """SELECT CAST(count(*) AS BIGINT) AS n_near_dup_pairs
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |AND list_cosine_similarity(a.embedding, b.embedding) >= 85e-2""".stripMargin,
    "q_quality_tokens" ->
      """SELECT doc_id,
        |  4e-1 * (CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text)) +
        |  3e-1 * (least(1e0, length(text) / 5e2)) +
        |  3e-1 * (CASE WHEN (CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE) /
        |                     ((length(text) - length(replace(text, ' ', ''))) + 1)) >= 3e0
        |               AND  (CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE) /
        |                     ((length(text) - length(replace(text, ' ', ''))) + 1)) <= 12e0
        |          THEN 1e0 ELSE 3e-1 END) AS quality,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) +
        |       len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS INT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_guess" -> {
      // generated from the SAME stopword lists the engine uses: per-language
      // non-overlapping occurrence counts via single-pass replace; argmax
      // with the engine's en>de>fr>es tie order
      def score(lang: String): String =
        graft.functions.TextRT.stopwords(lang).map { w =>
          s"((length(t2) - length(replace(t2, '$w', ''))) // ${w.length})"
        }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS t2 FROM documents),
         |s AS (SELECT doc_id, lang, ${score("en")} AS s_en, ${score("de")} AS s_de,
         |             ${score("fr")} AS s_fr, ${score("es")} AS s_es FROM t),
         |p AS (SELECT lang, CASE
         |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |  WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS predicted FROM s)
         |SELECT lang, predicted, COUNT(*) AS n FROM p
         |GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
    },
    "q_density_polys" ->
      s"""WITH $CTE_REGIONS
         |SELECT cx AS cell_x, cy AS cell_y, COUNT(*) AS n
         |FROM regions r, generate_series(0, 63) gx(cx), generate_series(0, 31) gy(cy)
         |WHERE (-180e0 + (cx + 5e-1) * ((180e0 - (-180e0)) / 64)) > r.xmin
         |  AND (-180e0 + (cx + 5e-1) * ((180e0 - (-180e0)) / 64)) < r.xmax
         |  AND (-85e0 + (cy + 5e-1) * ((85e0 - (-85e0)) / 32)) > r.ymin
         |  AND (-85e0 + (cy + 5e-1) * ((85e0 - (-85e0)) / 32)) < r.ymax
         |GROUP BY 1, 2 ORDER BY cell_x, cell_y""".stripMargin,
    "q_ann_cosine" ->
      """WITH q AS (SELECT list_transform(range(0, 64), i -> CAST((((i * 37) % 19) - 9) / 1e1 AS FLOAT)) AS qv),
        |d AS (SELECT vec_id,
        |  list_sum(list_transform(range(0, 64), i -> CAST(CAST(embedding[i + 1] * qv[i + 1] AS FLOAT) AS DOUBLE))) /
        |  sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS s
        |  FROM embeddings, q)
        |SELECT vec_id FROM d ORDER BY s DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q_dedup_simhash" ->
      // GROUND-TRUTH oracle (same shape as q_dedup_minhash): DuckDB
      // recomputes every document's 64-bit SimHash from scratch — FNV-1a +
      // splitmix64 in explicit mod-2^64 HUGEINT arithmetic (OracleMirror) —
      // and counts the exact all-pairs hamming<=3 total; matching it proves
      // the pigeonhole block-bucketing reaches 100% recall on this corpus
      s"""WITH ${OracleMirror.simhashCtes}
         |SELECT CAST(count(*) AS BIGINT) AS n_near_dup_pairs
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE a.s <> 0 AND b.s <> 0 AND bit_count(xor(a.s, b.s)) <= 3""".stripMargin,
    "q_fingerprints" ->
      // full per-document value parity for BOTH custom rolling hashes
      s"""WITH ${OracleMirror.simhashCtes},
         |${OracleMirror.fingerprintCtes(16)}
         |SELECT d.doc_id, COALESCE(fp.fp, 0) AS fp,
         |  COALESCE(${OracleMirror.toSigned("sig.s")}, 0) AS simhash
         |FROM documents d
         |LEFT JOIN fp ON d.doc_id = fp.doc_id
         |LEFT JOIN sig ON d.doc_id = sig.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q_ann_lsh" -> {
      // exact-mirror oracle: the multiprobe key set is computed here by the
      // SAME driver-side kernel the engine uses (VecRT.lshProbes) and the
      // per-row bucket key is re-derived in SQL from the ±1 plane literals;
      // cosine re-rank reuses q_ann_cosine's exact CTE
      val probes = graft.functions.VecRT.lshProbes(annQueryVec, 8, 4).mkString(", ")
      s"""WITH q AS (SELECT list_transform(range(0, 64), i -> CAST((((i * 37) % 19) - 9) / 1e1 AS FLOAT)) AS qv),
         |keyed AS (SELECT vec_id, embedding, ${OracleMirror.lshKeySql(8, 64)} AS key FROM embeddings),
         |d AS (SELECT vec_id,
         |  list_sum(list_transform(range(0, 64), i -> CAST(CAST(embedding[i + 1] * qv[i + 1] AS FLOAT) AS DOUBLE))) /
         |  sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS s
         |  FROM keyed, q WHERE key IN ($probes))
         |SELECT vec_id FROM d ORDER BY s DESC, vec_id ASC LIMIT 10""".stripMargin
    },
    "q_ann_ivf" ->
      // containment gate: the engine-side query counts its IVF results and
      // how many fall OUTSIDE its own brute top-AnnMargin (brute ranking is
      // separately exact-gated by q_ann_cosine); this constant row is the
      // oracle-recorded claim those counts must hit
      s"SELECT CAST(10 AS BIGINT) AS n_results, CAST(0 AS BIGINT) AS n_outside_margin",
    "q_layout_scan" ->
      s"""WITH $CTE_PAGES
         |SELECT doc_id FROM pages
         |WHERE lon > -80e0 AND lon < -70e0 AND lat > 35e0 AND lat < 45e0
         |ORDER BY doc_id""".stripMargin,
    "q_csv_roundtrip" ->
      s"""WITH $CTE_PAGES
         |SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sum_id FROM pages
         |WHERE lon > -80e0 AND lon < -70e0 AND lat > 35e0 AND lat < 45e0
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_geoparse" ->
      // the engine extracts lat/lon from the geo.position html tag; the
      // oracle derives the same milli-degree values arithmetically and
      // routes them through the SAME exact-decimal-string → DOUBLE cast
      // (correctly rounded identically in both engines)
      s"""WITH m AS (
         |  SELECT doc_id, $GP_LON_MILLI AS lonm, $GP_LAT_MILLI AS latm
         |  FROM documents WHERE $GP_TAGGED),
         |s AS (
         |  SELECT doc_id,
         |    CONCAT(CASE WHEN lonm < 0 THEN '-' ELSE '' END,
         |      CAST(ABS(lonm) // 1000 AS VARCHAR), '.',
         |      LPAD(CAST(ABS(lonm) % 1000 AS VARCHAR), 3, '0')) AS lon_s,
         |    CONCAT(CASE WHEN latm < 0 THEN '-' ELSE '' END,
         |      CAST(ABS(latm) // 1000 AS VARCHAR), '.',
         |      LPAD(CAST(ABS(latm) % 1000 AS VARCHAR), 3, '0')) AS lat_s
         |  FROM m)
         |SELECT doc_id, CAST(lon_s AS DOUBLE) AS geo_lon,
         |  CAST(lat_s AS DOUBLE) AS geo_lat
         |FROM s ORDER BY doc_id""".stripMargin,
    "q_cql_filter" ->
      // the ECQL polygon is a box (boundary-inclusive INTERSECTS, but edges
      // at .0005° can never equal a milli-degree coordinate); warc_ts is
      // 2011-06-01 + (doc_id % 2592000) seconds, so the strict DURING
      // interior is an integer-seconds interval on that offset
      s"""WITH $CTE_PAGES
         |SELECT doc_id, lang FROM pages
         |WHERE lon > -100.0005 AND lon < -60.0005
         |  AND lat > 20.0005 AND lat < 50.0005
         |  AND (doc_id % 2592000) > 60 AND (doc_id % 2592000) < 300
         |  AND lang IN ('en', 'de') AND text LIKE '%the%' AND doc_id IS NOT NULL
         |ORDER BY doc_id""".stripMargin,
    "q_avro_roundtrip" ->
      s"""SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_fixedwidth_roundtrip" ->
      s"""SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sum_id
         |FROM documents WHERE n_chars > 200 GROUP BY lang ORDER BY lang""".stripMargin,
    "q_geojson_roundtrip" ->
      s"""WITH $CTE_PAGES
         |SELECT COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sum_id,
         |  MIN(lon) AS min_lon, MAX(lat) AS max_lat
         |FROM pages
         |WHERE lon > -80e0 AND lon < -70e0 AND lat > 35e0 AND lat < 45e0""".stripMargin,
    "q_gml_roundtrip" ->
      // same aggregate as the GeoJSON gate: the GML text round-trip must
      // reproduce the original doubles bit-exactly
      s"""WITH $CTE_PAGES
         |SELECT COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sum_id,
         |  MIN(lon) AS min_lon, MAX(lat) AS max_lat
         |FROM pages
         |WHERE lon > -80e0 AND lon < -70e0 AND lat > 35e0 AND lat < 45e0""".stripMargin,
    "q_bin_roundtrip" ->
      // sec rides the record as int32, lat/lon as float32: the oracle
      // applies the same narrowing casts to the original doubles
      s"""WITH $CTE_PAGES
         |SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(sec AS INTEGER)) AS BIGINT) AS sum_sec,
         |  CAST(MIN(CAST(lat AS REAL)) AS DOUBLE) AS min_lat,
         |  CAST(MAX(CAST(lon AS REAL)) AS DOUBLE) AS max_lon
         |FROM pages""".stripMargin,
    "q_layout_write" ->
      // the write must conserve rows and produce exactly one manifest entry
      // per occupied res-3 bucket cell (same 8×8 truncate-and-clamp grid as
      // the q_layout_stats oracle; cx*8+cy is bijective with the Z2 cell)
      s"""WITH $CTE_PAGES,
         |cells AS (SELECT
         |  LEAST(GREATEST(CAST(FLOOR((lon + 180e0) / 360e0 * 8) AS BIGINT), 0), 7) * 8 +
         |  LEAST(GREATEST(CAST(FLOOR((lat + 90e0) / 180e0 * 8) AS BIGINT), 0), 7) AS c
         |  FROM pages)
         |SELECT COUNT(*) AS n_rows, COUNT(DISTINCT c) AS n_buckets FROM cells""".stripMargin,
    "q_layout_stats" ->
      // bucket grid at res 3: 8×8 cells of 45°×22.5°; the engine's
      // Z2.lonToX/latToY truncate the non-negative scaled coordinate and
      // clamp to the grid, and bounds are x/n*360-180 (same IEEE ops here)
      s"""WITH $CTE_PAGES,
         |cells AS (SELECT
         |  LEAST(GREATEST(CAST(FLOOR((lon + 180e0) / 360e0 * 8) AS BIGINT), 0), 7) AS cx,
         |  LEAST(GREATEST(CAST(FLOOR((lat + 90e0) / 180e0 * 8) AS BIGINT), 0), 7) AS cy
         |  FROM pages)
         |SELECT COUNT(*) AS n_rows,
         |  MIN(CAST(cx AS DOUBLE) / 8e0 * 360e0 - 180e0) AS xmin,
         |  MIN(CAST(cy AS DOUBLE) / 8e0 * 180e0 - 90e0) AS ymin,
         |  MAX(CAST(cx + 1 AS DOUBLE) / 8e0 * 360e0 - 180e0) AS xmax,
         |  MAX(CAST(cy + 1 AS DOUBLE) / 8e0 * 180e0 - 90e0) AS ymax
         |FROM cells""".stripMargin,
    "q_liveview_upsert" ->
      // latest event per user id wins; a trailing delete removes the id
      s"""WITH latest AS (
         |  SELECT user_id, event_id, event_type, ts,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
         |  FROM events)
         |SELECT CAST(user_id AS VARCHAR) AS id,
         |  CAST((event_id * 7) % 360 - 180 AS DOUBLE) AS lon,
         |  CAST((event_id * 11) % 170 - 85 AS DOUBLE) AS lat,
         |  epoch_ms(ts) AS ts_millis
         |FROM latest WHERE rn = 1 AND event_type <> 'error'
         |ORDER BY id""".stripMargin,
    "q_liveview_window" ->
      // latest-per-id live view, read through a 12-hour write-TTL (the
      // LiveViewTtlMillis constant interpolated below) as of the
      // max event time, windowed to the [-120,120]x[-60,60] box (T1 read
      // semantics + T3 bbox-on-live-window); all comparisons are int64
      s"""WITH latest AS (
         |  SELECT user_id, event_id, event_type, ts,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
         |  FROM events),
         |mx AS (SELECT MAX(epoch_ms(ts)) AS asof FROM events)
         |SELECT CAST(user_id AS VARCHAR) AS id,
         |  CAST((event_id * 7) % 360 - 180 AS DOUBLE) AS lon,
         |  CAST((event_id * 11) % 170 - 85 AS DOUBLE) AS lat,
         |  epoch_ms(ts) AS ts_millis
         |FROM latest, mx WHERE rn = 1 AND event_type <> 'error'
         |  AND mx.asof - epoch_ms(ts) <= ${LiveViewTtlMillis}
         |  AND ((event_id * 7) % 360 - 180) BETWEEN -120 AND 120
         |  AND ((event_id * 11) % 170 - 85) BETWEEN -60 AND 60
         |ORDER BY id""".stripMargin,
    "q_world_elide" ->
      // the whole-world box selects everything: the oracle simply drops it
      s"""WITH $CTE_PAGES
         |SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sum_id
         |FROM pages GROUP BY lang ORDER BY lang""".stripMargin,
    "q_idl_bbox" ->
      // the wrapped window is the union of (170.0005,180] and [-180,-170.0005)
      s"""WITH $CTE_PAGES
         |SELECT doc_id FROM pages
         |WHERE (lon > 1700005e-4 OR lon < -1700005e-4)
         |  AND lat > -200005e-4 AND lat < 200005e-4
         |ORDER BY doc_id""".stripMargin,
    "q_geom_fns" ->
      // integer-coordinate geometries: every JTS result the engine computes
      // (shoelace area, perimeter, even-dimension centroid, envelope,
      // 3-4-5 line length, disjoint-union area, axis-gap distance) is
      // FP-exact, so int64 arithmetic reproduces it bit-for-bit
      s"""WITH geoms AS (SELECT n_nationkey,
         |  $GFX0 AS x0, $GFY0 AS y0, $GFW AS w, $GFH AS h, $GFK AS k FROM nation)
         |SELECT n_nationkey,
         |  CAST(w * h AS DOUBLE) AS area,
         |  CAST(2 * (w + h) AS DOUBLE) AS perim,
         |  x0 + w / 2e0 AS cx,
         |  y0 + h / 2e0 AS cy,
         |  CAST(x0 AS DOUBLE) AS exmin,
         |  CAST(y0 + h AS DOUBLE) AS eymax,
         |  CAST(10 * k AS DOUBLE) AS line_len,
         |  'Polygon' AS gtype,
         |  CAST(2 * w * h AS DOUBLE) AS union_area,
         |  CAST(100 - w AS DOUBLE) AS dist,
         |  (k = 1) AS rel
         |FROM geoms ORDER BY n_nationkey""".stripMargin,
    "q_dms_roundtrip" ->
      // deg → "dd:mm:ss.ssH" → deg equals: round to centiseconds
      // (floor(x+0.5), matching java Math.round), integer-split to d/m/s,
      // rebuild in the parser's exact IEEE order d + (m + s/60)/60; values
      // reaching the hemisphere bound parse to NULL (reference DMS throws,
      // the expression is SQL-null-idiomatic)
      s"""WITH $CTE_PAGES,
         |c AS (SELECT doc_id, lat, lon,
         |  CAST(FLOOR(ABS(lat) * 36e2 * 1e2 + 5e-1) AS BIGINT) AS clat,
         |  CAST(FLOOR(ABS(lon) * 36e2 * 1e2 + 5e-1) AS BIGINT) AS clon
         |  FROM pages WHERE doc_id < 200),
         |v AS (SELECT doc_id, lat, lon,
         |  (clat // 360000) + ((clat % 360000) // 6000 + ((clat % 6000) / 1e2) / 6e1) / 6e1 AS vlat,
         |  (clon // 360000) + ((clon % 360000) // 6000 + ((clon % 6000) / 1e2) / 6e1) / 6e1 AS vlon
         |  FROM c)
         |SELECT doc_id,
         |  CASE WHEN vlat >= 9e1 THEN NULL
         |       ELSE (CASE WHEN lat >= 0e0 THEN 1e0 ELSE -1e0 END) * vlat END AS lat_q,
         |  CASE WHEN vlon >= 18e1 THEN NULL
         |       ELSE (CASE WHEN lon >= 0e0 THEN 1e0 ELSE -1e0 END) * vlon END AS lon_q
         |FROM v ORDER BY doc_id""".stripMargin,
    "q_track_bins" ->
      // ntile over the unique event_id time key — identical bucket
      // allocation rule (first n%b buckets get one extra row) in both
      s"""WITH ev AS (SELECT event_id % 5 AS tid, event_id AS t_sec FROM events),
         |binned AS (SELECT tid, t_sec,
         |  NTILE(8) OVER (PARTITION BY tid ORDER BY t_sec) AS bin FROM ev)
         |SELECT tid, bin, MIN(t_sec) AS t_min, MAX(t_sec) AS t_max,
         |  COUNT(*) AS n_points
         |FROM binned GROUP BY tid, bin ORDER BY tid, bin""".stripMargin
  )
}
