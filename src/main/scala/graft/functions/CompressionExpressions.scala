package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import graft.ingest.Zlib

/** zlib (RFC 1950) compress/decompress as Catalyst expressions over BinaryType —
  * the reference's per-file `zlib.compress` map step
  * (audit_data_ingest.py:118-119) expressed as a codegen-participating
  * column function: `df.select(zlib_compress($"content"))`.
  *
  * The byte-level work happens in [[graft.ingest.Zlib]] (a static JVM
  * call); codegen emits a direct invocation, so the expression sits inside
  * the WholeStageCodegen stage with no interpreter round-trip per row.
  */
abstract class ZlibExpression extends UnaryExpression {
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary input, got ${child.dataType}")
}

case class ZlibCompress(child: Expression) extends ZlibExpression {
  override def prettyName: String = "graft_zlib_compress"

  override def nullSafeEval(input: Any): Any =
    Zlib.compress(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ingest.Zlib.compress($c, -1, false)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class ZlibDecompress(child: Expression) extends ZlibExpression {
  override def prettyName: String = "graft_zlib_decompress"

  override def nullSafeEval(input: Any): Any =
    Zlib.decompress(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ingest.Zlib.decompress($c, false)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Zstandard compress/decompress as the same codegen-participating
  * expression shape — the modern container codec next to the
  * reference's zlib (training-shard stores and parquet both default to
  * zstd today). Bytes go through zstd-jni's static JNI entry points
  * (the library Spark itself ships for parquet/shuffle codecs), so the
  * expression stays inside WholeStageCodegen with one native call per
  * row and no per-row object churn beyond the output buffer.
  */
case class ZstdCompress(child: Expression) extends ZlibExpression {
  override def prettyName: String = "graft_zstd_compress"

  override def nullSafeEval(input: Any): Any =
    com.github.luben.zstd.Zstd.compress(input.asInstanceOf[Array[Byte]], 3)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"com.github.luben.zstd.Zstd.compress($c, 3)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Static entry point shared by BOTH evaluation paths of
  * [[ZstdDecompress]]: interpreted eval and generated code must agree
  * on every input, including the bad ones — a frame with no declared
  * content size (streaming-compressor output, content size -1) or a
  * >2 GB declaration must fail with THIS message either way, never a
  * codegen-only NegativeArraySizeException or a silent long→int
  * truncation.
  */
object ZstdCodec {
  def inflate(bytes: Array[Byte]): Array[Byte] = {
    val n = com.github.luben.zstd.Zstd.getFrameContentSize(bytes)
    require(n >= 0 && n <= Int.MaxValue,
      s"zstd frame does not carry a valid content size: $n")
    com.github.luben.zstd.Zstd.decompress(bytes, n.toInt)
  }
}

case class ZstdDecompress(child: Expression) extends ZlibExpression {
  override def prettyName: String = "graft_zstd_decompress"

  override def nullSafeEval(input: Any): Any =
    ZstdCodec.inflate(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ZstdCodec.inflate($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CompressionFunctions {
  def zlib_compress(c: Column): Column =
    ColumnBridge.column(ZlibCompress(ColumnBridge.expression(c)))

  def zlib_decompress(c: Column): Column =
    ColumnBridge.column(ZlibDecompress(ColumnBridge.expression(c)))

  def zstd_compress(c: Column): Column =
    ColumnBridge.column(ZstdCompress(ColumnBridge.expression(c)))

  def zstd_decompress(c: Column): Column =
    ColumnBridge.column(ZstdDecompress(ColumnBridge.expression(c)))
}
