package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL (one JSON object per line) in/out for the documents table — the
  * de-facto interchange format of LLM training corpora (The Pile, Dolma,
  * RedPajama all ship as jsonl shards). Parquet stays the engine's
  * internal format; these are the edges where a corpus enters from a
  * crawler dump or leaves for a trainer that wants raw lines.
  *
  * Scale notes: a jsonl directory parallelizes by file split like any
  * text scan, and the schema'd read keeps parsing inside codegen'd
  * Jackson columns — no RDD string handling. The explicit schema matters
  * at 100 TB: schema inference would SCAN THE CORPUS TWICE (one pass to
  * infer, one to read), and a drifted field type would silently widen to
  * string corpus-wide.
  */
object Jsonl {

  /** The documents-table schema, pinned (never inferred — see class doc). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
  ))

  /** Read a JSONL corpus as a documents-shaped frame. Unparseable lines
    * are dropped (`DROPMALFORMED`), and parseable objects missing the
    * identity fields (`doc_id`, `text`) are dropped too — same
    * strictly-more-robust-than-crashing policy as
    * [[Fixtures]]' CSV readers.
    */
  def documents(s: SparkSession, path: String): DataFrame =
    s.read
      .schema(documentsSchema)
      .option("mode", "DROPMALFORMED")
      .json(path)
      .na.drop("any", Seq("doc_id", "text"))

  /** Export a `shard_id`-carrying frame as shard-partitioned JSONL — one
    * directory per shard, each written by ONE task as one file,
    * id-ordered within (the [[graft.queries.CurationOps.writeShards]]
    * layout, jsonl-serialized for trainers that consume raw lines).
    * Returns the written row count (an action — the write runs).
    */
  def writeShards(df: DataFrame, path: String): Long = {
    val s = df.sparkSession
    df
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("doc_id"))
      .write
      .mode("overwrite")
      .partitionBy("shard_id")
      .json(path)
    s.read.json(path).count()
  }
}
