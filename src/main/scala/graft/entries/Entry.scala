package graft
package entries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One bench entry, declared once in its family file: `build` runs it
  * over a testdata dir, `oracle` is the DuckDB SQL that must return
  * the same rows.
  *
  * Correctness protocol: every entry with an oracle is mirrored in
  * DuckDB SQL over the same parquet tables; computed columns carry the
  * same alias on both sides, double aggregates are rounded identically,
  * and both sides ORDER BY the same deterministic key. The
  * minhash/simhash/LSH entries run their md5-derived replayable hash
  * variants, so DuckDB recomputes the FULL pipeline (hashing, banding,
  * pairing, survivor selection) from the raw tables.
  *
  * `None` marks a bench-only entry: a production code path a user
  * actually runs where the oracle-gated entry must use a replayable
  * (md5) variant so DuckDB can recompute it. No DuckDB oracle exists
  * for xxhash64, and a rows-only correctness entry would be weaker
  * than the ScalaTest parity pin (SimilaritySpec) these paths already
  * carry. Bench runs them so the recorded numbers measure what
  * production executes. */
final case class Entry(name: String,
    build: (SparkSession, String) => DataFrame, oracle: Option[String])

object Entry {
  /** A testdata table, loaded the one way every entry loads it. */
  private[entries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
}
