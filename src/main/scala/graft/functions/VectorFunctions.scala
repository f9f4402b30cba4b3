package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float|double>` embedding columns, built from
  * codegen'd expressions — no UDFs, so the whole similarity pipeline stays
  * inside whole-stage codegen and scales linearly with executor count.
  *
  * Elements are cast to double BEFORE multiplication: float×float would
  * accumulate float error that differs from the (double) oracle, while
  * double products of float-derived values are bit-deterministic.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ as a left-to-right double fold — dispatched to the native
    * zero-allocation VectorDot expression (see its Scaladoc; arithmetic is
    * bit-identical to the zip_with/aggregate formulation). The expression
    * is constructed DIRECTLY (session-independent) — temp-function
    * registration is per-session and SparkSession.active can be the wrong
    * session in multi-session apps; `VectorDot.register` stays available
    * for SQL users who want the `vector_dot` name. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.column(VectorDot(
      org.apache.spark.sql.GraftPlanBridge.expression(a),
      org.apache.spark.sql.GraftPlanBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))
}
