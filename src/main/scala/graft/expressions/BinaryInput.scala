package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.types.{BinaryType, DataType}

/** A decoder over one BINARY column: any other input type fails analysis,
  * and the result is nullable (null input, or bytes that do not decode).
  * The result is BINARY unless the decoder overrides `dataType`.
  */
trait BinaryInput extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary input, got ${t.simpleString}")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
}
