package graft

/** The [[Sessions]] factory's session (every spec runs on it through
  * [[SparkSpec]]): the production configuration, with every kernel the
  * operators call registered — a missing registration is an analysis
  * error, so it is pinned here rather than discovered by a query. */
class SessionsSpec extends SparkSpec {

  test("registers every graft_* function GraftExtensions injects") {
    val expected = Set(
      "graft_shingles", "graft_minhash", "graft_repstats", "graft_bloom_agg",
      "graft_bloom_contains", "graft_token_count_in", "graft_nfc", "graft_chunk_hashes",
      "graft_min_shingle_md5", "graft_centroid_ranks", "graft_pq_codes", "graft_dot_fd",
      "graft_band_pairs", "graft_inc_band_pairs", "graft_isect_size", "graft_simhash64",
      "graft_dot_f", "graft_norm_f")
    val registered = spark.catalog.listFunctions().collect()
      .map(_.name).filter(_.startsWith("graft_")).toSet
    assert(registered === expected)
  }

  test("UTC zone, 4096-entry codegen cache, nanosAsLong left unset") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Sessions.CodegenCacheEntries.toString)
    assert(Sessions.CodegenCacheEntries === 4096)
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    assert(!spark.sparkContext.getConf.contains(nanos))
    assert(spark.conf.get(nanos) === "false")
  }
}
