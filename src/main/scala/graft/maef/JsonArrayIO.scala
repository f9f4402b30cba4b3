package graft.maef

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, to_json}
import org.apache.spark.sql.types.StructType

/** The reference's file interchange formats (SURVEY §2.1 S5-S7):
  *
  *   - S6: JSON *array* files (one top-level array, not JSONL) —
  *     `spark.read.option("multiLine", true)`;
  *   - S5: pretty-printed 4-space-indent JSON array sink, one file —
  *     matches `json.dump(list, indent=4)` (src/etl/transform.py:276-288);
  *   - S7: single-file CSV with header (src/etl/reporting.py:169-170).
  *
  * The single-file sinks collect through the driver by design: they exist
  * for parity with the reference's API-boundary artifacts (thousands of
  * rows), NOT for bulk data. Bulk paths write partitioned parquet.
  */
object JsonArrayIO {

  def readJsonArray(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("multiLine", "true").schema(schema).json(path)

  /** Pretty JSON array with field order taken from the schema, laid out
    * like python's `json.dump(..., indent=4)`: one member or element per
    * line, 4 spaces per nesting level at every depth (the response
    * envelope's `value` array of records included), `": "` after keys and
    * `[]`/`{}` for empty containers. Scalars are written as `to_json`
    * renders them. Returns the row count, which the collected rows give
    * for free; `check` sees it before the file is created, so a gate on it
    * leaves no artifact behind. */
  def writePrettyJsonArray(df: DataFrame, path: String, check: Long => Unit = _ => ()): Long = {
    val spark = df.sparkSession
    // ignoreNullFields=false: python's json.dump writes "field": null where
    // df.toJSON would DROP the key entirely — a schema-strict consumer of
    // the artifact (or a byte-level golden comparison) needs every key
    val rows = df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*),
        java.util.Collections.singletonMap("ignoreNullFields", "false")).as("j"))
      .collect().map(_.getString(0)) // compact per-row JSON, schema field order
    check(rows.length.toLong)
    val pretty = new Indenter
    pretty.feed("[")
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) pretty.feed(",")
      pretty.feed(r)
    }
    pretty.feed("]")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new BufferedWriter(new OutputStreamWriter(
      fs.create(new Path(path), true), StandardCharsets.UTF_8))
    try out.append(pretty.text)
    finally out.close()
    rows.length.toLong
  }

  /** Re-indents compact JSON text (no whitespace outside strings, as
    * `to_json` writes it) in one pass, tracking string/escape state and
    * nesting depth. The newline after an opening bracket waits for the
    * next character, so an empty container stays `[]`/`{}`. */
  private final class Indenter {
    val text = new java.lang.StringBuilder
    private var depth = 0
    private var inString = false
    private var escaped = false
    private var opened = false

    private def newline(): Unit = {
      text.append('\n')
      var i = 0
      while (i < depth) { text.append("    "); i += 1 }
    }

    def feed(compact: String): Unit = {
      var i = 0
      while (i < compact.length) {
        val c = compact.charAt(i)
        if (inString) {
          text.append(c)
          if (escaped) escaped = false
          else if (c == '\\') escaped = true
          else if (c == '"') inString = false
        } else {
          if (opened && c != ']' && c != '}') { opened = false; newline() }
          c match {
            case '[' | '{' => text.append(c); depth += 1; opened = true
            case ']' | '}' =>
              depth -= 1
              if (opened) opened = false else newline()
              text.append(c)
            case ',' => text.append(c); newline()
            case ':' => text.append(": ")
            case '"' => text.append(c); inString = true
            case _ => text.append(c)
          }
        }
        i += 1
      }
    }
  }

  /** S7: header CSV as exactly one file at `path`. Returns the row count,
    * observed on the write itself. */
  def writeSingleCsv(df: DataFrame, path: String): Long = {
    val spark = df.sparkSession
    val tmp = path + "_tmp_csvdir"
    val rows = new Observation()
    df.observe(rows, count(lit(1)).as("n"))
      .coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(tmp).getFileSystem(conf)
    val part = fs.globStatus(new Path(tmp, "part-*")).head.getPath
    fs.delete(new Path(path), false)
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, new Path(path), false, conf)
    fs.delete(new Path(tmp), true)
    rows.get("n").asInstanceOf[Long]
  }
}
