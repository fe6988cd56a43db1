package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver gate: its Spark body over `$sfDir/<table>.parquet` and the
  * DuckDB SQL that must return the same rows from the same tables.
  * graft.Verify writes every `oracle` into oracle_sql.json verbatim, so the
  * literal's bytes — leading spaces of continuation lines included — are
  * the contract, not just its meaning.
  *
  * Conventions used by every gate:
  *  - reads only `$sfDir/<table>.parquet`;
  *  - any column that must hash-match the DuckDB oracle is integral,
  *    string, or boolean (cents via per-row round() then integer sum),
  *    never a float aggregate — IEEE sum order would break byte equality
  *    (exception: doubles that both engines derive from identical integer
  *    inputs with the same expression, e.g. Jaccard = i/(na+nb-i));
  *  - sketch queries output exact values (computable by the oracle) plus
  *    `within_*` booleans asserting the published error bound, so the
  *    DuckDB gate verifies the bound itself (the reference's analogue:
  *    classification accuracy vs ground truth, README.md:29).
  */
final case class Gate(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)
