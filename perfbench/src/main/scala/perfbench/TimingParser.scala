package perfbench

import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}

import java.util.concurrent.atomic.AtomicLong

/** Delegates every call to the session's SQL parser and counts the time
  * spent in it: traced runs inject it, because the plans the engine
  * executes are built from already-parsed DataFrames, so the parsing phase
  * never reaches a `QueryExecutionListener`.
  */
final class TimingParser(parser: ParserInterface) extends ParserInterface {
  private def timed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally TimingParser.nanos.addAndGet(System.nanoTime() - t0)
  }

  override def parsePlan(sqlText: String) = timed(parser.parsePlan(sqlText))
  override def parsePlanWithParameters(sqlText: String, params: ParameterContext) =
    timed(parser.parsePlanWithParameters(sqlText, params))
  override def parseExpression(sqlText: String) = timed(parser.parseExpression(sqlText))
  override def parseTableIdentifier(sqlText: String) = timed(parser.parseTableIdentifier(sqlText))
  override def parseFunctionIdentifier(sqlText: String) =
    timed(parser.parseFunctionIdentifier(sqlText))
  override def parseMultipartIdentifier(sqlText: String) =
    timed(parser.parseMultipartIdentifier(sqlText))
  override def parseQuery(sqlText: String) = timed(parser.parseQuery(sqlText))
  override def parseRoutineParam(sqlText: String) = timed(parser.parseRoutineParam(sqlText))
  override def parseTableSchema(sqlText: String) = timed(parser.parseTableSchema(sqlText))
  override def parseDataType(sqlText: String) = timed(parser.parseDataType(sqlText))
}

object TimingParser {
  val nanos = new AtomicLong
}
