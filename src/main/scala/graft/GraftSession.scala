package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a `SparkSession.Builder` pre-configured the way the
  * engine expects, for users embedding graft in their own application.
  * Verify, Bench, Explain, ScaleGen and the test session start from it too.
  *
  *  - `graft.plans.GraftExtensions` injected → every native kernel
  *    (`vec_dot`, `vec_sq_dist`, `hashed_word_grams`, `hashed_char_grams`,
  *    `hashed_char_grams_wide`, `min_gram_md5`, `top_gram_count`,
  *    `band_sigs`, `winnowed_gram_pos`, `simhash16`, `simhash60`)
  *    available on the SQL path;
  *  - nanosecond-parquet handling for the events table (see Tables.events);
  *  - UTC session timezone — date/timestamp semantics independent of the
  *    submitting machine (and of where each executor runs);
  *  - no per-session artifact isolation, so session clones share compiled
  *    classes;
  *  - AQE left ON (Spark default) — runtime coalescing, skew-join splitting
  *    and broadcast demotion are part of the engine's 100 TB story.
  *
  * Deliberately NOT set here: master, shuffle partitions, memory — cluster
  * sizing belongs to the deployment, not the library. Callers chain their
  * own `.master(...)`/`.config(...)` on the returned builder.
  */
object GraftSession {
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // The whole-stage-codegen class cache holds 100 classes by default,
      // far below the ~1000 distinct classes the registry generates, so a
      // long-lived session recompiles (janino, ~10-100 ms per class)
      // identical bytecode on every reuse. Static conf; classes are KB-scale.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Spark gives each artifact-isolated session its own executor class
      // loader, and the codegen cache is keyed by class loader, so a fresh
      // session recompiles every class. The engine adds no artifacts, and
      // its k-bounded loops run on session clones (graft.functions.Confs):
      // without isolation each loop reuses the classes compiled before it.
      .config("spark.sql.artifact.isolation.enabled", "false")
}
