package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, expressed with
  * higher-order functions (`zip_with`/`aggregate`) so it compiles to
  * codegen'd expressions — no UDF serialization, distributes with the row.
  */
object VectorFunctions {

  /** Left-to-right fold dot product in double precision (deterministic
    * evaluation order — same result on every engine/partitioning). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0),
      (acc, v) => acc + v
    )

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Sign bit of the projection onto a fixed pseudo-random hyperplane —
    * the building block for random-hyperplane LSH (SimHash for vectors).
    * `plane` is generated driver-side from a fixed seed and inlined as an
    * array literal, so the hash is deterministic and broadcast-free. */
  def hyperplaneBit(v: Column, plane: Seq[Double]): Column =
    (dot(v, array(plane.map(lit): _*)) >= 0).cast("int")
}
