package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Canonical text normalization (NFC + casefold + whitespace collapse) as a
  * native expression: one static Kernels call from generated code, so the
  * normalize → tokenize → score pipeline stays a single codegen span over
  * the scan. Spark ships no unicode-normalize builtin; the UDF route would
  * break codegen at the hottest point of a 100 TB text pipeline.
  */
case class NormalizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"normalize_text needs STRING, got ${child.dataType}")
  }
  override def nullSafeEval(v: Any): Any =
    Kernels.normalizeText(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.normalizeText($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** DSIR feature-bucket stream (array<bigint>) of an array<string> token
  * column — unigram then bigram hash buckets with multiplicity, one codegen
  * kernel call (see [[Kernels.dsirBuckets]]).
  */
case class DsirBuckets(child: Expression, buckets: Int, md5: Boolean)
    extends UnaryExpression {
  require(buckets > 0, "buckets must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.dsirBuckets(v.asInstanceOf[ArrayData], buckets, md5)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.dsirBuckets($c, $buckets, $md5)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** DSIR per-document weighted score: Σ lw(bucket(gram)) over the
  * [[DsirBuckets]] stream, the weight table riding as a codegen reference
  * object (the [[NearestCentroid]] pattern — KBs serialized once with the
  * plan, no per-row boxing).
  */
case class DsirScoreSum(child: Expression, lw: Array[Long], md5: Boolean)
    extends UnaryExpression {
  require(lw.nonEmpty, "weight table must be non-empty")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Kernels.dsirScoreSum(v.asInstanceOf[ArrayData], lw, md5)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lwRef = ctx.addReferenceObj("dsirLw", lw, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.dsirScoreSum($c, $lwRef, $md5)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Adjacent-token pairs (array<struct<w1,w2>>) of an array<string> column —
  * the bigram stream as one kernel call (see [[Kernels.adjacentPairs]]).
  */
case class AdjacentPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("w1", StringType), StructField("w2", StringType))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.adjacentPairs(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.adjacentPairs($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Ordered word n-gram list with multiplicity (array<string>) of an
  * array<string> token column (see [[Kernels.ngramList]]).
  */
case class NgramList(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, "n must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.ngramList(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.ngramList($c, $n)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Overlapping token-window chunks (array<struct<chunk_no,chunk,n_tokens>>)
  * of an array<string> token column (see [[Kernels.chunks]]).
  */
case class TokenChunks(child: Expression, size: Int, stride: Int)
    extends UnaryExpression {
  require(size > 0 && stride > 0 && stride <= size,
    "need 0 < stride <= size")
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("chunk_no", org.apache.spark.sql.types.IntegerType),
      StructField("chunk", StringType),
      StructField("n_tokens", org.apache.spark.sql.types.IntegerType))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.chunks(v.asInstanceOf[ArrayData], size, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.chunks($c, $size, $stride)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Ordered n-gram list with the whole-text short-doc convention
  * (see [[Kernels.shingleList]] / `Dedup.shingles`).
  */
case class ShingleList(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, "n must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.shingleList(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.shingleList($c, $n)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** (position, md5-60 gram hash) pairs per rolling n-gram
  * (see [[Kernels.posGramHashes]]).
  */
case class PosGramHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, "n must be positive")
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("p", org.apache.spark.sql.types.IntegerType),
      StructField("h", LongType))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.posGramHashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.posGramHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Binary-digit count of a long — `length(bin(x))` without materializing
  * the binary STRING (r18): equal for ALL longs, including the
  * two's-complement 64-char render of negatives (nlz = 0 there) and
  * bin(0) = "0" (length 1). The LM-bits scorer evaluates it twice per
  * bigram row; the string path allocated two up-to-64-char strings per
  * row just to take their length.
  */
case class BitLength64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[Long]
    if (x == 0L) 1L else 64L - java.lang.Long.numberOfLeadingZeros(x)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"(($c) == 0L ? 1L : 64L - java.lang.Long.numberOfLeadingZeros($c))")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** xxHash64 (Spark's seed-42 `xxhash64`) of each string element — one
  * kernel pass (see [[Kernels.hashStrings64]]).
  */
case class HashStrings64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.hashStrings64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.hashStrings64($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Deletion-1 neighborhood key set (array<string>) of a string column —
  * the SymSpell/FastSS blocking keys as one kernel pass
  * (see [[Kernels.deletionNeighborhood]]).
  */
case class DeletionNeighborhood(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.deletionNeighborhood(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.deletionNeighborhood($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The '\n'-joined chunk-line view of a token array (string) — the
  * [[TokenChunks]] windows' strings joined in one pass
  * (see [[Kernels.chunkLines]]).
  */
case class ChunkLines(child: Expression, size: Int, stride: Int)
    extends UnaryExpression {
  require(size > 0 && stride > 0 && stride <= size, "need 0 < stride <= size")
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    Kernels.chunkLines(v.asInstanceOf[ArrayData], size, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.chunkLines($c, $size, $stride)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Join string field `ord` of each struct element with `delim` — the
  * line-reassembly tail as one kernel pass
  * (see [[Kernels.joinStructField]]).
  */
case class JoinStructField(child: Expression, ord: Int, numFields: Int,
                           delim: String) extends UnaryExpression {
  require(ord >= 0 && numFields > ord, "need 0 <= ord < numFields")
  private val delimUtf8 = UTF8String.fromString(delim)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    Kernels.joinStructField(v.asInstanceOf[ArrayData], ord, numFields, delimUtf8)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dRef = ctx.addReferenceObj("jsfDelim", delimUtf8,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.joinStructField($c, $ord, $numFields, $dRef)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object TextExpressions {
  def normalizeText(text: Column): Column = column(NormalizeText(expression(text)))

  def tokenChunks(tokens: Column, size: Int, stride: Int): Column =
    column(TokenChunks(expression(tokens), size, stride))

  def shingleList(tokens: Column, n: Int): Column =
    column(ShingleList(expression(tokens), n))

  def posGramHashes(tokens: Column, n: Int): Column =
    column(PosGramHashes(expression(tokens), n))

  def dsirBuckets(tokens: Column, buckets: Int, md5: Boolean): Column =
    column(DsirBuckets(expression(tokens), buckets, md5))

  def dsirScoreSum(tokens: Column, lw: Array[Long], md5: Boolean): Column =
    column(DsirScoreSum(expression(tokens), lw, md5))

  def adjacentPairs(tokens: Column): Column =
    column(AdjacentPairs(expression(tokens)))

  def ngramList(tokens: Column, n: Int): Column =
    column(NgramList(expression(tokens), n))

  def bitLength64(c: Column): Column =
    column(BitLength64(expression(c)))

  def hashStrings64(a: Column): Column =
    column(HashStrings64(expression(a)))

  def deletionNeighborhood(s: Column): Column =
    column(DeletionNeighborhood(expression(s)))

  def chunkLines(tokens: Column, size: Int, stride: Int): Column =
    column(ChunkLines(expression(tokens), size, stride))

  def joinStructField(a: Column, ord: Int, numFields: Int,
                      delim: String): Column =
    column(JoinStructField(expression(a), ord, numFields, delim))
}
