package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its `name` (a `graft.Verify` output directory and
  * a `SparkEntry.queries` key), the DuckDB `oracleSql` its result is
  * checked against, and the Spark `build` over a testdata directory.
  * Every operator from SURVEY.md §2 (plus the north-star LLM-pipeline
  * ops) is one `Query`, so none can be declared without its oracle.
  *
  * The two sides must agree cell for cell: column names/aliases are kept
  * identical on both sides; every ranked query tie-breaks on a unique id;
  * every float is rounded identically on both sides (see
  * VectorSearch.ScoreDecimals).
  *
  * A query is declared in its family's `<Family>Queries` object and listed
  * in `SparkEntry`'s registry, which alone decides the run order. `build`
  * is the second parameter list so a declaration reads
  * `Query(name, oracleSql) { (spark, dir) => … }`. */
private[graft] final case class Query(name: String, oracleSql: String)(
    val build: (SparkSession, String) => DataFrame)
