package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Cassandra's Murmur3Partitioner token function.
  *
  * This is deliberately NOT standard MurmurHash3_x64_128: Cassandra's Java
  * implementation sign-extends the tail bytes (no `& 0xff`) and pins
  * Long.MinValue to Long.MaxValue, and every on-disk token depends on
  * those quirks. Behavior derived from the reference's C re-implementation
  * of Cassandra's variant (reference: Partitioners.cpp:80-208) and the
  * public Cassandra source; byte-for-byte faithful so token-range scans
  * line up with real Cassandra rings.
  *
  * Exposed as a codegen'd unary Catalyst expression: the 100 TB path
  * (token-range scans, ring-balanced repartitioning) calls this per row,
  * so it must stay inside whole-stage codegen — a static method call on
  * the raw bytes, no boxing, no UDF serialization.
  */
object CassandraMurmur3 {
  /** Token of a partition key, Cassandra-style: h1 of the 128-bit hash
    * with the tail bytes sign-extended (Cassandra's bug, kept on
    * purpose), and Long.MinValue pinned to Long.MaxValue. */
  def token(key: Array[Byte]): Long = {
    val h1 = Murmur3Core.hash128(key, -1L, null)
    if (h1 == Long.MinValue) Long.MaxValue else h1
  }

  def token(key: UTF8String): Long = token(key.getBytes)

  /** Column API: `cassandra_token(key)` for string or binary keys. */
  def cassandraToken(c: Column): Column =
    ColumnBridge.column(CassandraMurmur3Token(ColumnBridge.expression(c)))
}

case class CassandraMurmur3Token(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case StringType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cassandra_token requires string or binary input, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any = input match {
    case s: UTF8String  => CassandraMurmur3.token(s)
    case b: Array[Byte] => CassandraMurmur3.token(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => child.dataType match {
      case StringType => s"graft.functions.CassandraMurmur3.token($c)"
      case _          => s"graft.functions.CassandraMurmur3.token(($c))"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
