package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's raw-lake JSON layout: files whose entire content is ONE
  * JSON array of ≤ `chunkSize` records (the archiver buffers 50 records,
  * then writes them as a single JSON array object — reference:
  * bigdata-project/src/kafka_to_minio.py:47-75), batch-read with
  * `multiLine` JSON parsing (reference: spark_batch_v2.py:33-36).
  *
  * Scale notes: the writer is one shuffle on the chunk key (each chunk's
  * records hash to one reducer, are sorted, and serialize into one array);
  * the reader parallelizes per file — exactly how a multi-TB raw lake of
  * small JSON batches reads on a cluster. Prefer the declared-schema reader
  * in production: inference ([[readArrayLakeInferred]], what the reference
  * does) costs an extra full pass over the data and can drift types
  * between runs.
  */
object JsonLake {

  /** Write `df` as array-JSON files under `path`, one file per
    * `chunkSize`-record chunk of `keyCol` (records sorted within each chunk
    * by their leading struct field, so output is deterministic).
    */
  def writeArrayLake(df: DataFrame, keyCol: String, chunkSize: Int, path: String): Unit = {
    val recCols = df.columns.map(col)
    df.withColumn("chunk", call_function("div", col(keyCol), lit(chunkSize.toLong)))
      .groupBy("chunk")
      .agg(to_json(array_sort(collect_list(struct(recCols: _*)))).as("value"))
      .write.mode("overwrite").partitionBy("chunk").text(path)
  }

  /** Declared-schema read of an array-JSON lake: each file parses as one
    * JSON value (the array), exploding into one row per record.
    */
  def readArrayLake(spark: SparkSession, path: String, schema: StructType): DataFrame =
    arrayFiles(spark).schema(schema).json(path)

  /** Schema-inference variant (the reference's own read path). */
  def readArrayLakeInferred(spark: SparkSession, path: String): DataFrame =
    arrayFiles(spark).json(path)

  /** Every `.txt` file under the lake root. The root is passed as a plain
    * directory, not a `chunk=*` glob: Spark probes a glob path for a
    * streaming-sink log and logs a `FileNotFoundException` at WARN on every
    * read. Recursive lookup also turns off partition discovery, so `chunk`
    * stays out of the schema.
    */
  private def arrayFiles(spark: SparkSession): DataFrameReader =
    spark.read
      .option("multiLine", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.txt")
}
