package graft.plans

import graft.functions.{BloomMightContain, RollingHash, VecDot, VecL2sq, VecQDot, WinnowHashes, WordShingles}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}

/** Session extensions registering the engine's native Catalyst functions —
  * installed by [[graft.GraftSession.builder]] (or
  * `spark.sql.extensions=graft.plans.GraftExtensions` on a cluster), after
  * which `rolling_hash` is a first-class SQL function that participates in
  * whole-stage codegen like any built-in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "rolling_hash takes exactly one argument")
        RollingHash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        children match {
          case Seq(arr) => WordShingles(arr, 3)
          case Seq(arr, Literal(w: Int, _)) => WordShingles(arr, w)
          case _ => throw new IllegalArgumentException(
            "word_shingles takes (array<string> tokens[, int width-literal])")
        }))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "vec_dot takes exactly two array<double> arguments")
        VecDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_l2sq"),
      new ExpressionInfo(classOf[VecL2sq].getName, "vec_l2sq"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "vec_l2sq takes exactly two array<double> arguments")
        VecL2sq(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_qdot"),
      new ExpressionInfo(classOf[VecQDot].getName, "vec_qdot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "vec_qdot takes exactly two array<double> arguments")
        VecQDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("winnow_hashes"),
      new ExpressionInfo(classOf[WinnowHashes].getName, "winnow_hashes"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        children match {
          case Seq(arr) => WinnowHashes(arr, 4)
          case Seq(arr, Literal(w: Int, _)) => WinnowHashes(arr, w)
          case _ => throw new IllegalArgumentException(
            "winnow_hashes takes (array<string> shingles[, int window-literal])")
        }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        children match {
          // the handle KEY resolves against the driver-side registry at
          // plan-build time; executors see only the captured broadcast
          case Seq(value, Literal(key: org.apache.spark.unsafe.types.UTF8String, _)) =>
            BloomMightContain(value, graft.functions.BloomMightContain.handle(key.toString))
          case _ => throw new IllegalArgumentException(
            "bloom_might_contain takes (string value, string handle-key literal)")
        }))
  }
}
