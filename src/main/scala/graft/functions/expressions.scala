package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import graft.core.{CassandraTokens, CqlValueCodec}

/**
 * Native Catalyst expressions for the Cassandra-specific kernels. All of
 * them codegen to a static call into graft.core (no virtual dispatch, no
 * boxing beyond the byte arrays themselves), so they stay inside
 * whole-stage codegen spans.
 */

/** Murmur3Partitioner token of partition-key bytes. */
case class CassandraTokenExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"cassandra_token expects binary, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = child.foldable // let Catalyst fold literal keys
  override def prettyName: String = "cassandra_token"

  override protected def nullSafeEval(input: Any): Any =
    CassandraTokens.token(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.CassandraTokens.token($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Contiguous ring bucket (0..n-1) of a token; n fixed at plan time. */
case class TokenBucketExpr(child: Expression, numBuckets: Int) extends UnaryExpression {
  require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"token_bucket expects long, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "token_bucket"

  override protected def nullSafeEval(input: Any): Any =
    CassandraTokens.bucketOfToken(input.asInstanceOf[Long], numBuckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.CassandraTokens.bucketOfToken($c, $numBuckets)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** RandomPartitioner token of partition-key bytes: canonical 16-byte
  * big-endian abs(md5(key)) — fixed width, so BinaryType's unsigned
  * lexicographic ordering is numeric token ordering. */
case class RandomTokenExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"cassandra_random_token expects binary, got ${child.dataType}")
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "cassandra_random_token"

  override protected def nullSafeEval(input: Any): Any =
    CassandraTokens.md5TokenBytes(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.CassandraTokens.md5TokenBytes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Ring bucket (0..n-1) of a canonical 16-byte RandomPartitioner token. */
case class RandomTokenBucketExpr(child: Expression, numBuckets: Int) extends UnaryExpression {
  require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"random_token_bucket expects binary, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "random_token_bucket"

  override protected def nullSafeEval(input: Any): Any =
    CassandraTokens.randomBucketOfTokenBytes(input.asInstanceOf[Array[Byte]], numBuckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.CassandraTokens.randomBucketOfTokenBytes($c, $numBuckets)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Serialize a single typed value to Cassandra wire bytes (the F1 kernel as
 * a plan-visible expression; null -> empty buffer, so never null out).
 */
case class CqlSerializeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "cql_serialize"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType | IntegerType | LongType | ShortType | FloatType | DoubleType |
          BooleanType | BinaryType =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"cql_serialize does not support type $other (use sink-side codec for collections)")
    }

  @transient private lazy val serialize = CqlValueCodec.serializer(child.dataType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    serialize(new GenericInternalRow(Array[Any](child.eval(input))), 0)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val serCall: String => String = child.dataType match {
      case StringType  => c => s"graft.core.CqlValueCodec.serializeString($c.toString())"
      case IntegerType => c => s"graft.core.CqlValueCodec.serializeInt($c)"
      case LongType    => c => s"graft.core.CqlValueCodec.serializeLong($c)"
      case ShortType   => c => s"graft.core.CqlValueCodec.serializeShort($c)"
      case FloatType   => c => s"graft.core.CqlValueCodec.serializeFloat($c)"
      case DoubleType  => c => s"graft.core.CqlValueCodec.serializeDouble($c)"
      case BooleanType => c => s"graft.core.CqlValueCodec.serializeBoolean($c)"
      case BinaryType  => c => c
      case other       => throw new IllegalStateException(s"unreachable: $other")
    }
    val childGen = child.genCode(ctx)
    val resultCode =
      s"""
         |${childGen.code}
         |byte[] ${ev.value};
         |if (${childGen.isNull}) {
         |  ${ev.value} = graft.core.CqlValueCodec.Empty();
         |} else {
         |  ${ev.value} = ${serCall(childGen.value.toString)};
         |}
       """.stripMargin
    ev.copy(
      code = org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper(
        new StringContext(resultCode)).code(),
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Double-precision dot product over two numeric arrays (float or double
 * elements, independently per side). The hot kernel of every similarity
 * operator: a tight codegen'd loop over ArrayData instead of the
 * interpreted zip_with+aggregate chain (higher-order functions don't
 * codegen). Accumulation order is identical, so results are bit-equal.
 */
case class VectorDotExpr(left: Expression, right: Expression) extends BinaryExpression {
  private def elem(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elem(left), elem(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects array<float|double>, got ${left.dataType}, ${right.dataType}")
    }

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  private def helper: String = (elem(left).get, elem(right).get) match {
    case (FloatType, FloatType)   => "dotFF"
    case (FloatType, DoubleType)  => "dotFD"
    case (DoubleType, FloatType)  => "dotDF"
    case (DoubleType, DoubleType) => "dotDD"
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bd = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    helper match {
      case "dotFF" => graft.core.VecMath.dotFF(ad, bd)
      case "dotFD" => graft.core.VecMath.dotFD(ad, bd)
      case "dotDF" => graft.core.VecMath.dotDF(ad, bd)
      case "dotDD" => graft.core.VecMath.dotDD(ad, bd)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.VecMath.$helper($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Morton (Z-order) interleave of 2..6 non-negative long dimensions — the
 * space-filling-curve clustering key for multi-column data skipping
 * (sort/range-partition by it and every file gets tight min/max on ALL
 * participating columns). Each dimension must fit 62/k bits; a value
 * outside that range throws (silently masking would fold distant points
 * together). Null in any dimension nulls the key.
 */
case class ZOrderExpr(children: Seq[Expression]) extends Expression {
  require(children.size >= 2 && children.size <= 6,
    s"z_order takes 2..6 dimensions, got ${children.size}")
  override def checkInputDataTypes(): TypeCheckResult =
    children.find(_.dataType != LongType) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"z_order expects bigint dimensions (cast/normalize first), got ${c.dataType}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = "z_order"

  private def bits: Int = graft.core.ZOrder.bitsPer(children.size)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = new Array[Long](children.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      vals(i) = v.asInstanceOf[Long]
      i += 1
    }
    graft.core.ZOrder.interleave(vals, bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val arr = ctx.freshName("zvals")
    val assigns = gens.zipWithIndex.map { case (g, i) =>
      s"""
         |if (!${ev.isNull}) {
         |  ${g.code}
         |  if (${g.isNull}) { ${ev.isNull} = true; } else { $arr[$i] = ${g.value}; }
         |}
       """.stripMargin
    }.mkString("\n")
    val resultCode =
      s"""
         |boolean ${ev.isNull} = false;
         |long ${ev.value} = -1L;
         |long[] $arr = new long[${children.length}];
         |$assigns
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.core.ZOrder.interleave($arr, $bits);
         |}
       """.stripMargin
    ev.copy(
      code = org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper(
        new StringContext(resultCode)).code())
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/**
 * Product-quantization encode: array<float|double> vector -> array<int>
 * of per-subspace nearest-codeword indices (squared L2, first index on
 * ties). The codebook is a plan-time constant — precomputed once here,
 * shipped into generated code as a reference object — so the hot loop is
 * m*ksub*dsub fused multiply-adds per row with no per-row allocation
 * beyond the m-int result. The higher-order-function formulation
 * (transform over a literal codebook with a zip_with/aggregate distance
 * lambda) is CodegenFallback and ~two orders slower per row.
 */
case class PqEncodeExpr(child: Expression,
    codebook: Seq[Seq[Seq[Double]]]) extends UnaryExpression {
  require(codebook.nonEmpty && codebook.forall(_.nonEmpty),
    "pq_encode: codebook must have >=1 codeword per subspace")
  require(codebook.forall(sub => sub.forall(_.length == sub.head.length)),
    "pq_encode: ragged codeword dimensions within a subspace")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<float|double>, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_encode"

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    codebook.map(_.map(_.toArray).toArray).toArray

  private def helper: String = child.dataType match {
    case ArrayType(FloatType, _) => "pqEncodeF"
    case _                       => "pqEncodeD"
  }

  override protected def nullSafeEval(input: Any): Any =
    if (helper == "pqEncodeF")
      graft.core.VecMath.pqEncodeF(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cb)
    else
      graft.core.VecMath.pqEncodeD(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebook", cb, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.core.VecMath.$helper($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Count of regex matches in a string — value-equal to
 * `size(regexp_extract_all(str, pattern, 0))` without materializing a
 * string per match (Spark's builtin `regexp_count` is RuntimeReplaceable
 * sugar for exactly that allocating form). The pattern is a plan-time
 * constant: compiled once here, shipped into generated code as a
 * reference object.
 */
case class RegexpCountExpr(child: Expression, pattern: String) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"match_count expects string, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "match_count"

  @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.countMatches(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], compiled)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("pattern", compiled, "java.util.regex.Pattern")
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.countMatches($c, $p)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Fused overlapping char-gram hashing: string -> array<long> of 32-bit
 * md5-derived hashes, one per k-code-point window. Value-equal to
 * `shingle_hashes(regexp_extract_all(s, "(?s)(?=(.{k}))", 1))` but digests
 * UTF-8 byte slices in place — no per-position gram strings.
 */
case class CharGramHashesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, "k must be positive")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"char_gram_hashes expects string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "char_gram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.charGramHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.charGramHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Count of array<string> elements contained in a plan-time word set —
 * value-equal to `size(filter(arr, w => w.isin(words)))`. The higher-order
 * `filter` is CodegenFallback (interpreted, and opaque to subexpression
 * elimination); this stays inside whole-stage codegen so a shared
 * tokenizer subtree is computed once per row across output columns.
 */
case class ArrayCountInExpr(child: Expression, words: Seq[String]) extends UnaryExpression {
  require(words.nonEmpty, "word set must be non-empty")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"array_count_in expects array<string>, got $other")
  }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "array_count_in"

  @transient private lazy val wordSet: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    words.foreach(w => s.add(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
    s
  }

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.countIn(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], wordSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("words", wordSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.countIn($c, $set)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Occurrence count of the most frequent element of array<string> — the
  * top-word repetition signal computed IN-ROW (one hash map per row,
  * codegen'd), replacing the explode + groupBy(doc, word) + max(count)
  * two-shuffle form. Null elements skipped; empty array -> 0. */
case class MaxTokenCountExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"max_token_count expects array<string>, got $other")
  }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "max_token_count"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.maxTokenCount(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.maxTokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** First-occurrence line dedup of a string (codegen'd O(lines) hash-set
  * pass) — replaces the O(lines²) filter+array_position higher-order
  * form, which was also CodegenFallback. Order-preserving; '\n' framing
  * identical to split/array_join (trailing and empty lines kept once). */
case class DedupLinesExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dedup_lines expects string, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dedup_lines"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.dedupLines(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.dedupLines($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** DISTINCT overlapping word n-grams of a string (codegen'd byte-level
  * pass) — replaces the array_distinct(regexp_extract_all(lookahead))
  * form that ran the regex engine per character position. */
case class WordGramsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, "n must be positive")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_grams expects string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_grams"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.wordGrams(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.wordGrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Code points covered by repeat word-n-gram occurrences (the Gopher
  * duplicate-n-gram repetition signal) — O(tokens) hash-probe kernel;
  * the SQL-expressible per-gram filter-count form is O(grams²) per row. */
case class DupGramCharsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, "n must be positive")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dup_gram_chars expects string, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dup_gram_chars"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.dupGramChars(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.dupGramChars($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sum of array<long> (codegen'd; null elements skipped) — keeps the
  * whole projection inside whole-stage codegen where the higher-order
  * `aggregate` form would fall back and re-pay shared subtrees. */
case class ArraySumLongExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"array_sum_long expects array<bigint>, got $other")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "array_sum_long"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.arraySumLong(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.arraySumLong($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** In-row SimHash over array<string> tokens (codegen'd): per-token md5
  * bit votes -> majority signature. Replaces the explode +
  * groupBy(doc) + N-column vote aggregation (SimHash is per-document;
  * the exchange bought nothing). */
case class SimhashExpr(child: Expression, bits: Int) extends UnaryExpression {
  require(bits > 0 && bits <= 60 && bits % 4 == 0,
    s"bits must be a positive multiple of 4, <= 60, got $bits")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_tokens expects array<string>, got $other")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash_tokens"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.simhashFromTokens(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.simhashFromTokens($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Order-insensitive md5 fingerprint of a string set (array<string> ->
  * 16-byte binary; elements binary-sorted and length-framed in the
  * kernel — no sort_array/to_json string materialization). */
case class SetFingerprintExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"set_fingerprint expects array<string>, got $other")
  }
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "set_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.setFingerprint(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.setFingerprint($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<string> shingles -> array<long> 32-bit md5-derived hashes
  * (codegen'd loop; values equal conv(substring(md5(s),1,8),16,10)). */
case class ShingleHashesExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects array<string>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.shingleHashes(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.shingleHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<long> k-gram hashes -> array<long> sorted distinct winnowing
  * fingerprints (min per sliding window of w; codegen'd O(n) deque). */
case class WinnowExpr(child: Expression, w: Int) extends UnaryExpression {
  require(w > 0, "window must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow expects array<long>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.winnow(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.winnow($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<long> hashes -> array<long> k-min MinHash signature (codegen'd). */
case class MinHashSignatureExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, "k must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<long>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.minhashSignature(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.minhashSignature($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * CompositeType partition-key encoding over 2+ pre-serialized components
 * (2-byte BE length + bytes + 0x00 terminator per component).
 */
case class CompositeKeyExpr(children: Seq[Expression]) extends Expression {
  require(children.nonEmpty, "composite key needs at least one component")
  override def checkInputDataTypes(): TypeCheckResult =
    children.find(_.dataType != BinaryType) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"composite_key expects binary components, got ${c.dataType}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = "composite_key"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val comps = new Array[Array[Byte]](children.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      comps(i) = if (v == null) CqlValueCodec.Empty else v.asInstanceOf[Array[Byte]]
      i += 1
    }
    CqlValueCodec.composite(comps)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val arr = ctx.freshName("comps")
    val assigns = gens.zipWithIndex.map { case (g, i) =>
      s"""
         |${g.code}
         |$arr[$i] = ${g.isNull} ? graft.core.CqlValueCodec.Empty() : ${g.value};
       """.stripMargin
    }.mkString("\n")
    val resultCode =
      s"""
         |byte[][] $arr = new byte[${children.length}][];
         |$assigns
         |byte[] ${ev.value} = graft.core.CqlValueCodec.composite($arr);
       """.stripMargin
    ev.copy(
      code = org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper(
        new StringContext(resultCode)).code(),
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** Bloom-blob membership probe: (blob, string) -> boolean. The blob is
  * usually a plan-time literal published by `bloom_agg` — k header-relative
  * word reads per row, no deserialization (codegen'd). */
case class BloomContainsExpr(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_contains expects (binary, string), got ($l, $r)")
    }
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_contains"

  override protected def nullSafeEval(blob: Any, item: Any): Any =
    graft.core.Bloom.mightContain(blob.asInstanceOf[Array[Byte]],
      item.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, s) => s"graft.core.Bloom.mightContain($b, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Bloom-blob ANY-element probe: (blob, array<string>) -> boolean — the
  * in-row candidate test of bloom decontamination. True when any array
  * element probes positive; the all-clean common case short-circuits
  * without exploding the array into rows (codegen'd). */
case class BloomAnyExpr(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_any expects (binary, array<string>), got ($l, $r)")
    }
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_any"

  override protected def nullSafeEval(blob: Any, arr: Any): Any =
    graft.core.Bloom.anyMightContain(blob.asInstanceOf[Array[Byte]],
      arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, a) => s"graft.core.Bloom.anyMightContain($b, $a)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shannon entropy (bits) of a string's code-point distribution — the
  * compressibility proxy of quality filtering. O(len) byte pass,
  * codegen'd; summation order is pinned (ascending code point) so the
  * double is a pure function of the text. */
case class CharEntropyExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_entropy expects string, got ${child.dataType}")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "char_entropy"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.charEntropy(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.charEntropy($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** |distinct ∩| of two ASC-sorted arrays (long/int/string elements),
  * codegen'd two-pointer merge — replaces `size(array_intersect(a, b))`
  * where both sides are already `sort_array`'d (the triangle census's
  * adjacency lists): the generic ArrayIntersect hash-builds AND
  * MATERIALIZES every per-row intersection array just to take its size,
  * at O(E^1.5) rows the hottest loop of the whole census. Inputs MUST be
  * ascending-sorted (sort_array order); result matches array_intersect's
  * distinct semantics, including the both-sides-null-element case. */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _)) if lt == rt &&
          (lt == LongType || lt == IntegerType || lt == StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "sorted_intersect_count expects two arrays with the same " +
          s"long/int/string element type, got $other")
    }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  private def method: String =
    left.dataType.asInstanceOf[ArrayType].elementType match {
      case LongType => "sortedIntersectCountLong"
      case IntegerType => "sortedIntersectCountInt"
      case StringType => "sortedIntersectCountString"
      case other => throw new IllegalStateException(s"unreachable: $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bb = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    left.dataType.asInstanceOf[ArrayType].elementType match {
      case LongType => graft.core.TextHash.sortedIntersectCountLong(aa, bb)
      case IntegerType => graft.core.TextHash.sortedIntersectCountInt(aa, bb)
      case StringType => graft.core.TextHash.sortedIntersectCountString(aa, bb)
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.TextHash.$method($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Delta-varint pack of an ASC-sorted, null-free long/int array (the
  * `sort_array(collect_list(..))` shape) into BINARY — clustered id lists
  * pack to ~1-3 bytes per element instead of the flat 8 an
  * UnsafeArrayData long costs through every downstream exchange. Consumed
  * by [[PackedIntersectCountExpr]] without re-materializing the array. */
case class PackSortedLongsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) | ArrayType(IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pack_sorted_longs expects array<bigint> or array<int>, got $other")
  }
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pack_sorted_longs"

  private def method: String = child.dataType match {
    case ArrayType(LongType, _) => "packSortedLongs"
    case _ => "packSortedInts"
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    child.dataType match {
      case ArrayType(LongType, _) => graft.core.TextHash.packSortedLongs(arr)
      case _ => graft.core.TextHash.packSortedInts(arr)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.$method($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Inverse of [[PackSortedLongsExpr]]: binary -> array<bigint>, the
  * ascending long array the blob packed (codegen'd). For the sites where
  * a packed adjacency list must fan back out into rows (generator input)
  * — the decoded array is transient in-row, so caches and exchanges keep
  * the ~1-3 B/id encoding. */
case class UnpackSortedLongsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unpack_sorted_longs expects binary, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "unpack_sorted_longs"

  override protected def nullSafeEval(input: Any): Any =
    graft.core.TextHash.unpackSortedLongs(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextHash.unpackSortedLongs($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** |distinct ∩| of two [[PackSortedLongsExpr]]-packed sorted sets: one
  * two-pointer merge over the encoded bytes, varints decoded
  * incrementally — equal to `sorted_intersect_count` on the arrays that
  * were packed, with the array never rebuilt. */
case class PackedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"packed_intersect_count expects two binary columns, got $other")
    }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "packed_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.core.TextHash.packedIntersectCount(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.TextHash.packedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
