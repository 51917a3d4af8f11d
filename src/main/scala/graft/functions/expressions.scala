package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftx.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot array/text kernels —
  * preferred over UDFs per the Spark extension ladder: each generates
  * a single static call into [[Kernels]], so the per-element work runs
  * as tight JVM loops *inside* the enclosing whole-stage-codegen span
  * (a Scala UDF would break the span and pay per-row serialization).
  */
private object ExprHelpers {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}

  def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Misuse (e.g. `dot_f(array<int>, ...)` through the SQL registry)
    * must fail at ANALYSIS time: the kernels read raw unsafe bytes, so
    * a wrong element type would silently reinterpret garbage, not
    * throw.
    */
  def requireVector(name: String, args: (String, Expression)*): TypeCheckResult = {
    args.collectFirst {
      case (arg, e) if !(e.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }) =>
        TypeCheckFailure(s"$name requires ARRAY<FLOAT> or ARRAY<DOUBLE> for $arg, " +
          s"got ${e.dataType.catalogString}")
    }.getOrElse(TypeCheckSuccess)
  }

  private def sameShape(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(ae, _), ArrayType(be, _)) => sameShape(ae, be) // nullability-agnostic
    case (StructType(af), StructType(bf)) =>
      af.length == bf.length && af.zip(bf).forall { case (x, y) =>
        x.name == y.name && sameShape(x.dataType, y.dataType)
      }
    case _ => a == b
  }

  def requireType(name: String, expected: DataType, arg: String, e: Expression): TypeCheckResult =
    if (sameShape(e.dataType, expected)) TypeCheckSuccess
    else TypeCheckFailure(s"$name requires ${expected.catalogString} for $arg, " +
      s"got ${e.dataType.catalogString}")
}

/** Sequential-order double dot product over array<float|double>. */
case class DotProductF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_f"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireVector(prettyName, "left" -> left, "right" -> right)

  private def aF = ExprHelpers.isFloatArray(left)
  private def bF = ExprHelpers.isFloatArray(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aF, bF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // r17 (ADVICE): ctx.freshName — a fixed local name fails Janino
    // compilation (duplicate declaration) when two instances of these
    // kernel-call expressions land in one generated function with
    // non-nullable children (nullSafeExec emits no scoping if-block),
    // silently falling back to interpreted eval
    val kr = ctx.freshName("kr")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |java.lang.Double $kr = graft.functions.Kernels.dot($a, $b, $aF, $bF);
      |if ($kr == null) { ${ev.isNull} = true; } else { ${ev.value} = $kr.doubleValue(); }
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Distinct word n-gram shingles of a lowercased text column. */
case class WordShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = s"word_shingles_$n"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, StringType, "text", child)

  override def nullSafeEval(t: Any): Any =
    Kernels.wordShingles(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.wordShingles($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ALL word n-grams in order, repeats kept (raw-count twin of shingles). */
case class WordNgramsExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = s"word_ngrams_$n"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, StringType, "text", child)

  override def nullSafeEval(t: Any): Any =
    Kernels.wordNgrams(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.wordNgrams($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-document posting-bucket histogram (r17): long[nb] of distinct
  * tokens per xxhash64 bucket — feeds the text-index build's
  * driver-side layout plan ([[graft.ext.BucketLayout]]) from the same
  * scalar pass as the corpus stats, replacing the range exchange's
  * sampling re-run of the tokenize+explode.
  */
case class BucketHistogramExpr(child: Expression, nb: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = s"bucket_histogram_$nb"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, StringType, "text", child)

  override def nullSafeEval(t: Any): Any =
    Kernels.bucketHistogram(t.asInstanceOf[UTF8String], nb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.bucketHistogram($c, $nb)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-document term frequencies: array<struct<token,tf>> in first-seen order. */
case class TokenCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("token", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "token_counts"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, StringType, "text", child)

  override def nullSafeEval(t: Any): Any =
    Kernels.tokenCounts(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.tokenCounts($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Lowercase/trim/collapse-spaces/drop-adjacent-repeat normalization. */
/** zlib-deflated byte length of the text ([[Kernels.deflateLen]]) —
  * feeds the compression-ratio quality signal.
  */
case class DeflateLenExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "deflate_len"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, StringType, "text", child)

  override def nullSafeEval(t: Any): Any =
    Kernels.deflateLen(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.deflateLen($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class NormalizeTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, StringType, "text", child)

  override def nullSafeEval(t: Any): Any =
    Kernels.normalizeText(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.normalizeText($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature (array<long>[numHashes]) of a shingle array. */
case class MinHashSigExpr(child: Expression, as: Array[Long], bs: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, ArrayType(StringType), "shingles", child)

  override def nullSafeEval(sh: Any): Any =
    Kernels.minhashSig(sh.asInstanceOf[ArrayData], as, bs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhAs", as, "long[]")
    val bRef = ctx.addReferenceObj("mhBs", bs, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.minhashSig($c, $aRef, $bRef)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Packed banded-MinHash LSH bucket keys of a shingle array. */
case class MinHashBandKeysExpr(child: Expression, as: Array[Long], bs: Array[Long], bands: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, ArrayType(StringType), "shingles", child)

  override def nullSafeEval(sh: Any): Any =
    Kernels.minhashBandKeys(sh.asInstanceOf[ArrayData], as, bs, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhAs", as, "long[]")
    val bRef = ctx.addReferenceObj("mhBs", bs, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.minhashBandKeys($c, $aRef, $bRef, $bands)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass per-document repetition statistics — see
  * [[Kernels.repetitionStats]].
  */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_cnt", LongType, nullable = false),
    StructField("n_distinct_bigrams", LongType, nullable = false)))
  override def prettyName: String = "repetition_stats"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, StringType, "text", child)

  override def nullSafeEval(t: Any): Any =
    Kernels.repetitionStats(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.repetitionStats($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** All (a < b) pairs of a posting list of (doc_id, n) structs, as
  * array<struct<a,na,b,nb>> — see [[Kernels.postingPairs]].
  */
case class PostingPairsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("na", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("nb", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "posting_pairs"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName,
      ArrayType(StructType(Seq(StructField("doc_id", LongType),
        StructField("n", LongType)))), "postings", child)

  override def nullSafeEval(ids: Any): Any =
    Kernels.postingPairs(ids.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.postingPairs($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Verified SimHash pairs of one pigeonhole bucket — see
  * [[Kernels.simhashBucketPairs]]. Left: array<struct<doc_id,simhash>>;
  * right: the bucket's chunk index.
  */
case class SimhashBucketPairsExpr(left: Expression, right: Expression,
                                  width: Int, maxHamming: Int) extends BinaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("hamming", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "simhash_bucket_pairs"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName,
      ArrayType(StructType(Seq(StructField("doc_id", LongType),
        StructField("simhash", LongType)))), "ids", left) match {
      case org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess =>
        ExprHelpers.requireType(prettyName, IntegerType, "ck", right)
      case fail => fail
    }

  override def nullSafeEval(ids: Any, ck: Any): Any =
    Kernels.simhashBucketPairs(ids.asInstanceOf[ArrayData],
      ck.asInstanceOf[Int], width, maxHamming)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.Kernels.simhashBucketPairs($l, $r, $width, $maxHamming)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 64-bit SimHash fingerprint of a shingle array. */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, ArrayType(StringType), "shingles", child)

  override def nullSafeEval(sh: Any): Any =
    Kernels.simhash64(sh.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhash64($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Rank-bucket id of a double under SORTED sampled boundaries — the
  * z-order layout's per-dimension quantizer ([[graft.ops.Layout]]).
  * Binary search with upper_bound semantics (count of boundaries ≤ v,
  * equals land in the higher bucket — exactly the higher-order
  * `size(filter(array(...), b => v >= b))` formulation it replaces,
  * which evaluated an interpreted lambda per boundary per row: 255
  * compares/row/dim where this does ≤ 8). NaN lands in the TOP bucket
  * (Spark's total order ranks NaN greatest, so the predicate form
  * counted every boundary); NULL in bucket 0 via the caller's
  * coalesce — both as before.
  */
case class RankBucketExpr(child: Expression, boundaries: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "rank_bucket"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, DoubleType, "v", child)

  override def nullSafeEval(v: Any): Any =
    Kernels.rankBucket(v.asInstanceOf[Double], boundaries)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("rankBoundaries", boundaries, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.rankBucket($c, $bRef)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Packed LSH bucket keys ((table << 32) | bucket) across all tables;
  * query side sets `multiprobe` to add hamming-1 probe buckets.
  */
case class LshKeysExpr(child: Expression, planes: Array[Array[Array[Double]]],
                       multiprobe: Boolean) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_keys"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireVector(prettyName, "v" -> child)

  private def vF = ExprHelpers.isFloatArray(child)

  override def nullSafeEval(v: Any): Any =
    Kernels.lshKeys(v.asInstanceOf[ArrayData], planes, multiprobe, vF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("lshTables", planes, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.lshKeys($c, $pRef, $multiprobe, $vF)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Top-`nprobe` centroid indices by dot product (IVF probe list). */
case class CentroidProbesExpr(child: Expression, cents: Array[Array[Double]], nprobe: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "centroid_probes"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireVector(prettyName, "v" -> child)

  private def vF = ExprHelpers.isFloatArray(child)

  override def nullSafeEval(v: Any): Any =
    Kernels.centroidProbes(v.asInstanceOf[ArrayData], cents, nprobe, vF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.centroidProbes($c, $cRef, $nprobe, $vF)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Rabin-Karp rolling hashes of every w-token window, repeats kept —
  * the unit of substring-level dedup (Lee et al. '22 "Deduplicating
  * Training Data"): two documents sharing a ≥w-token run share all its
  * interior window hashes.
  */
case class WindowHashesExpr(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = s"window_hashes_$w"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, StringType, "text", child)

  override def nullSafeEval(t: Any): Any =
    Kernels.windowHashes(t.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.windowHashes($c, $w)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Product-quantization code (array<int>, one centroid index per
  * subspace) of a vector under driver-fit codebooks.
  */
case class PqEncodeExpr(child: Expression, cents: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireVector(prettyName, "v" -> child)

  private def vF = ExprHelpers.isFloatArray(child)

  override def nullSafeEval(v: Any): Any =
    Kernels.pqEncode(v.asInstanceOf[ArrayData], cents, vF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("pqCents", cents, "double[][][]")
    val kr = ctx.freshName("kr") // r17 (ADVICE): see DotProductF
    nullSafeCodeGen(ctx, ev, c => s"""
      |org.apache.spark.sql.catalyst.util.ArrayData $kr =
      |  graft.functions.Kernels.pqEncode($c, $cRef, $vF);
      |if ($kr == null) { ${ev.isNull} = true; } else { ${ev.value} = $kr; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** md5-PQ encode by the portable ARGMAX-DOT rule (r16) — the kernel
  * twin of the `array_sort(array(struct(0.0 − dot, c)…))` expression
  * the X235/X264 paths originally built per row: one static call
  * replaces an m × kc struct tree, with [[Kernels.pqEncodeDot]]
  * replicating the sort's total double order and tie rule exactly
  * (bit-identical codes, pinned by the unchanged oracles). Distinct
  * from [[PqEncodeExpr]], which is the L2-nearest rule of the k-means
  * production form — same answer in real arithmetic on constant-norm
  * codebooks, but a DIFFERENT float rounding path, so the portable
  * lane keeps its own kernel.
  */
case class PqEncodeDotExpr(child: Expression, cents: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode_dot"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireVector(prettyName, "v" -> child)

  private def vF = ExprHelpers.isFloatArray(child)

  override def nullSafeEval(v: Any): Any =
    Kernels.pqEncodeDot(v.asInstanceOf[ArrayData], cents, vF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("pqCents", cents, "double[][][]")
    val kr = ctx.freshName("kr") // r17 (ADVICE): see DotProductF
    nullSafeCodeGen(ctx, ev, c => s"""
      |org.apache.spark.sql.catalyst.util.ArrayData $kr =
      |  graft.functions.Kernels.pqEncodeDot($c, $cRef, $vF);
      |if ($kr == null) { ${ev.isNull} = true; } else { ${ev.value} = $kr; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** md5-PQ decode: chosen codewords concatenated (r16) — the kernel
  * twin of `concat(element_at(typedlit(codebook), code[j] + 1)…)`;
  * exact copies of the codebook doubles, so downstream dots are
  * bit-identical to the expression form it replaces.
  */
case class PqDecodeExpr(child: Expression, cents: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_decode"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, ArrayType(IntegerType), "code", child)

  override def nullSafeEval(code: Any): Any =
    Kernels.pqDecode(code.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("pqCents", cents, "double[][][]")
    val kr = ctx.freshName("kr") // r17 (ADVICE): see DotProductF
    nullSafeCodeGen(ctx, ev, c => s"""
      |org.apache.spark.sql.catalyst.util.ArrayData $kr =
      |  graft.functions.Kernels.pqDecode($c, $cRef);
      |if ($kr == null) { ${ev.isNull} = true; } else { ${ev.value} = $kr; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-query flat ADC lookup table (m·k doubles) under the codebooks. */
case class PqTableExpr(child: Expression, cents: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_table"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireVector(prettyName, "q" -> child)

  private def qF = ExprHelpers.isFloatArray(child)

  override def nullSafeEval(q: Any): Any =
    Kernels.pqTable(q.asInstanceOf[ArrayData], cents, qF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("pqCents", cents, "double[][][]")
    val kr = ctx.freshName("kr") // r17 (ADVICE): see DotProductF
    nullSafeCodeGen(ctx, ev, c => s"""
      |org.apache.spark.sql.catalyst.util.ArrayData $kr =
      |  graft.functions.Kernels.pqTable($c, $cRef, $qF);
      |if ($kr == null) { ${ev.isNull} = true; } else { ${ev.value} = $kr; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ADC score: m table lookups ≈ dot(query, PQ-reconstructed corpus vector). */
case class PqAdcExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, ArrayType(DoubleType), "table", left) match {
      case org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess =>
        ExprHelpers.requireType(prettyName, ArrayType(IntegerType), "code", right)
      case fail => fail
    }

  override def nullSafeEval(t: Any, c: Any): Any =
    Kernels.pqAdc(t.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kr = ctx.freshName("kr") // r17 (ADVICE): see DotProductF
    nullSafeCodeGen(ctx, ev, (t, c) => s"""
      |java.lang.Double $kr = graft.functions.Kernels.pqAdc($t, $c, $k);
      |if ($kr == null) { ${ev.isNull} = true; } else { ${ev.value} = $kr.doubleValue(); }
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-API entry points. */
/** Bloom-filter membership probe over a string column. The filter is a
  * task-shipped reference object (`addReferenceObj`), so the probe runs
  * inside whole-stage codegen with NO per-row serialization — the
  * constant-size alternative to broadcasting a distinct-set hash join
  * when the set is huge. Bytes probed are the UTF-8 encoding, matching
  * `BloomFilter.putString`'s encoding, so a filter built with
  * `df.stat.bloomFilter` agrees bit-for-bit.
  */
/** Per-row decontamination probe: true iff any word n-gram of the text
  * sits in the (driver-resident) benchmark shingle set. The set rides
  * the expression as a reference object — the same shape as
  * [[BloomMightContainExpr]]'s filter bits — so the probe is a
  * scan-local codegen'd predicate: no explode, no shuffle, no join.
  * Exact membership (unlike the Bloom form): no false positives, so
  * it shares the broadcast-join variant's oracle.
  */
case class SharesShingleExpr(child: Expression, n: Int,
    set: java.util.HashSet[String]) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = s"shares_shingle_$n"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, StringType, "text", child)

  override def nullSafeEval(t: Any): Any =
    Kernels.sharesShingle(t.asInstanceOf[UTF8String], n, set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("benchShingles", set,
      classOf[java.util.HashSet[String]].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.sharesShingle($c, $n, $setRef)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class BloomMightContainExpr(child: Expression,
    bf: org.apache.spark.util.sketch.BloomFilter) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, StringType, "item", child)

  override def nullSafeEval(t: Any): Any =
    bf.mightContainBinary(t.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfRef = ctx.addReferenceObj("bloom", bf,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$bfRef.mightContainBinary($c.getBytes())")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Element-wise mean of a group's vectors — a `TypedImperativeAggregate`
  * whose buffer is one `double[dim+1]` (sums + count) per group: the
  * shape that computes per-group centroids in ONE shuffle with
  * vector-grain rows, instead of a `posexplode` that multiplies the
  * shuffle by `dim`. Partial buffers merge associatively on the map
  * side like any built-in agg. Null/short vectors are skipped (counted
  * out); an empty group yields null.
  */
case class VectorMeanAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Double]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vector_mean"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireVector(prettyName, "v" -> child)
  private def isF = ExprHelpers.isFloatArray(child)

  override def createAggregationBuffer(): Array[Double] = new Array[Double](dim + 1)

  override def update(buf: Array[Double], row: InternalRow): Array[Double] = {
    val v = child.eval(row)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() == dim) {
        // null elements poison the vector (counted out), matching dot():
        // reading through them would reinterpret unsafe bytes
        var ok = true
        var i = 0
        while (ok && i < dim) { ok = !a.isNullAt(i); i += 1 }
        if (ok) {
          i = 0
          while (i < dim) {
            buf(i) += (if (isF) a.getFloat(i).toDouble else a.getDouble(i))
            i += 1
          }
          buf(dim) += 1.0
        }
      }
    }
    buf
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i <= dim) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Double]): Any = {
    val n = buf(dim)
    if (n == 0.0) null
    else {
      val out = new Array[Any](dim)
      var i = 0
      while (i < dim) { out(i) = buf(i) / n; i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate((dim + 1) * 8)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(dim + 1)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(o: Int): VectorMeanAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorMeanAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Mutable buffer of [[BoundedDistinctLongAgg]]: up to `cap` distinct
  * longs, or a poisoned overflow state once the (cap+1)-th distinct
  * value is seen — after which updates short-circuit, so a stopword
  * group costs O(cap) memory and O(1) per further row instead of
  * O(group). Linear membership scan beats hashing at the caps this
  * serves (tens): the whole buffer stays in one cache line span.
  */
final class BoundedLongSet(val cap: Int) {
  var overflow: Boolean = false
  var n: Int = 0
  val items: Array[Long] = new Array[Long](cap)
  def add(v: Long): Unit = if (!overflow) {
    var i = 0
    while (i < n) { if (items(i) == v) return; i += 1 }
    if (n == cap) overflow = true else { items(n) = v; n += 1 }
  }
}

/** Distinct values of a long column, capped: groups whose distinct
  * count exceeds `cap` evaluate to NULL (the caller drops them — the
  * co-occurrence stopword rule), everything else to the sorted
  * distinct array. The point vs `collect_set` + size filter: the
  * buffer NEVER exceeds cap entries, so an adversarially large group
  * (the 100 TB stopword) costs O(cap) memory per partial instead of
  * materializing its whole membership before the filter can see it.
  * Partials merge associatively (overflow is absorbing).
  */
case class BoundedDistinctLongAgg(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[BoundedLongSet]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bounded_distinct_long"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, LongType, "v", child)

  override def createAggregationBuffer(): BoundedLongSet = new BoundedLongSet(cap)

  override def update(buf: BoundedLongSet, row: InternalRow): BoundedLongSet = {
    val v = child.eval(row)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: BoundedLongSet, b2: BoundedLongSet): BoundedLongSet = {
    if (b2.overflow) b1.overflow = true
    else {
      var i = 0
      while (i < b2.n && !b1.overflow) { b1.add(b2.items(i)); i += 1 }
    }
    b1
  }

  override def eval(buf: BoundedLongSet): Any =
    if (buf.overflow) null
    else {
      val out = java.util.Arrays.copyOf(buf.items, buf.n)
      java.util.Arrays.sort(out)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

  override def serialize(buf: BoundedLongSet): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(1 + 4 + 8 * buf.n)
    bb.put(if (buf.overflow) 1.toByte else 0.toByte)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.items(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BoundedLongSet = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new BoundedLongSet(cap)
    buf.overflow = bb.get() == 1.toByte
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.items(i) = bb.getLong(); i += 1 }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BoundedDistinctLongAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedDistinctLongAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Count-Min counters as ONE aggregation buffer — the whole
  * `lanes × width` long array per partial, fed by the md5 hex of each
  * key. This is the build-side fix for the X213 sketch: the previous
  * plan exploded `lanes` (lane, bucket) structs per input row before
  * the partial aggregate — a 4× row blowup through the full scan — and
  * the sketch's domain is FIXED (lanes × width cells), exactly the
  * shape TypedImperativeAggregate exists for (the [[VectorMeanAgg]]
  * precedent). Per input row: parse `lanes` 8-hex-char windows, bump
  * `lanes` counters in-place, generate NOTHING. Partials merge by
  * element-wise addition (Count-Min linearity); the single merged
  * buffer evaluates to the array of NONZERO (lane, bucket, c) cells,
  * which the caller explodes once — ≤ lanes × width generated rows
  * total, not lanes × input rows.
  *
  * Counter identity: lane i's bucket is `parseHex(h[8i..8i+8)) % width`
  * — bit-for-bit the `conv(substring(h, i*8+1, 8), 16, 10) % width`
  * the exploded plan computed (8 hex chars ≤ 0xFFFFFFFF, exact in a
  * long, non-negative so `%` agrees), so the emitted frame and every
  * downstream oracle are unchanged.
  */
case class CountMinAgg(
    child: Expression,
    width: Long,
    lanes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  // the buffer is materialized per partial aggregate: bound it so a
  // mis-sized width fails loudly at construction, not as an executor
  // OOM (64 MiB of counters is far past any useful CM geometry)
  require(width >= 2 && lanes >= 1 && lanes <= 4 &&
    lanes.toLong * width <= (1L << 23),
    s"count_min_cells: need width>=2, 1<=lanes<=4, lanes*width <= 2^23; " +
      s"got (width=$width, lanes=$lanes)")

  private val cells = (lanes * width).toInt

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("lane", IntegerType, nullable = false),
      StructField("bucket", LongType, nullable = false),
      StructField("c", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "count_min_cells"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, StringType, "md5_hex", child)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](cells)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val h = child.eval(row)
    if (h != null) {
      val bytes = h.asInstanceOf[UTF8String].getBytes
      if (bytes.length >= lanes * 8) {
        var lane = 0
        while (lane < lanes) {
          var v = 0L
          var j = lane * 8
          val end = j + 8
          while (j < end) {
            val b = bytes(j)
            // md5() emits lowercase hex; accept uppercase for symmetry
            // with conv(), which is case-insensitive
            val d = if (b <= '9') b - '0'
                    else if (b >= 'a') b - 'a' + 10
                    else b - 'A' + 10
            v = (v << 4) | d
            j += 1
          }
          buf(lane * width.toInt + (v % width).toInt) += 1L
          lane += 1
        }
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < cells) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    var nz = 0
    var i = 0
    while (i < cells) { if (buf(i) != 0L) nz += 1; i += 1 }
    val out = new Array[Any](nz)
    var k = 0
    i = 0
    while (i < cells) {
      if (buf(i) != 0L) {
        out(k) = InternalRow(i / width.toInt, (i % width.toInt).toLong, buf(i))
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(cells * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(cells)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** All (a < b) pairs of a long array — see [[Kernels.longPairs]]. */
case class LongPairsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "long_pairs"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprHelpers.requireType(prettyName, ArrayType(LongType), "items", child)

  override def nullSafeEval(items: Any): Any =
    Kernels.longPairs(items.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.longPairs($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object native {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def dotF(a: Column, b: Column): Column = c(DotProductF(e(a), e(b)))
  def wordShingles(text: Column, n: Int): Column = c(WordShinglesExpr(e(text), n))
  def wordNgrams(text: Column, n: Int): Column = c(WordNgramsExpr(e(text), n))
  def tokenCounts(text: Column): Column = c(TokenCountsExpr(e(text)))
  def bucketHistogram(text: Column, nb: Int): Column = c(BucketHistogramExpr(e(text), nb))
  def normalizeText(text: Column): Column = c(NormalizeTextExpr(e(text)))
  def deflateLen(text: Column): Column = c(DeflateLenExpr(e(text)))
  def minhashSig(shingles: Column, as: Array[Long], bs: Array[Long]): Column =
    c(MinHashSigExpr(e(shingles), as, bs))
  def minhashBandKeys(shingles: Column, as: Array[Long], bs: Array[Long], bands: Int): Column =
    c(MinHashBandKeysExpr(e(shingles), as, bs, bands))
  def postingPairs(postings: Column): Column = c(PostingPairsExpr(e(postings)))
  def repetitionStats(text: Column): Column = c(RepetitionStatsExpr(e(text)))
  def simhash64(shingles: Column): Column = c(SimHash64Expr(e(shingles)))
  def rankBucket(v: Column, boundaries: Array[Double]): Column =
    c(RankBucketExpr(e(v), boundaries))
  def lshKeys(v: Column, planes: Array[Array[Array[Double]]], multiprobe: Boolean): Column =
    c(LshKeysExpr(e(v), planes, multiprobe))
  def centroidProbes(v: Column, cents: Array[Array[Double]], nprobe: Int): Column =
    c(CentroidProbesExpr(e(v), cents, nprobe))
  def windowHashes(text: Column, w: Int): Column = c(WindowHashesExpr(e(text), w))
  def pqEncode(v: Column, cents: Array[Array[Array[Double]]]): Column =
    c(PqEncodeExpr(e(v), cents))
  def pqEncodeDot(v: Column, cents: Array[Array[Array[Double]]]): Column =
    c(PqEncodeDotExpr(e(v), cents))
  def pqDecode(code: Column, cents: Array[Array[Array[Double]]]): Column =
    c(PqDecodeExpr(e(code), cents))
  def pqTable(q: Column, cents: Array[Array[Array[Double]]]): Column =
    c(PqTableExpr(e(q), cents))
  def pqAdc(table: Column, code: Column, k: Int): Column =
    c(PqAdcExpr(e(table), e(code), k))
  def vectorMean(v: Column, dim: Int): Column =
    c(VectorMeanAgg(e(v), dim).toAggregateExpression())
  def boundedDistinctLong(v: Column, cap: Int): Column =
    c(BoundedDistinctLongAgg(e(v), cap).toAggregateExpression())
  def countMinCells(md5Hex: Column, width: Long, lanes: Int): Column =
    c(CountMinAgg(e(md5Hex), width, lanes).toAggregateExpression())
  def longPairs(items: Column): Column = c(LongPairsExpr(e(items)))
  def sharesShingle(text: Column, n: Int, set: java.util.HashSet[String]): Column =
    c(SharesShingleExpr(e(text), n, set))
  def bloomMightContain(item: Column, bf: org.apache.spark.util.sketch.BloomFilter): Column =
    c(BloomMightContainExpr(e(item), bf))
  /** `SeededEwma(...) OVER (PARTITION BY .. ORDER BY .. ROWS UNBOUNDED
    * PRECEDING)` — the WindowExpression is built directly instead of
    * `Column.over`, which wraps any AggregateFunction in an
    * AggregateExpression; an AggregateWindowFunction under that
    * wrapper fails analysis (WINDOW_FUNCTION_WITHOUT_OVER_CLAUSE —
    * the wrapper node itself has a window-function child). */
  def simhashBucketPairs(ids: Column, ck: Column, width: Int, maxHamming: Int): Column =
    c(SimhashBucketPairsExpr(e(ids), e(ck), width, maxHamming))
  def seededEwmaOver(x: Column, alpha: Double, seedPeriods: Int,
                     partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    runningOver(SeededEwma(e(x), alpha, seedPeriods), partitionBy, orderBy)

  /** [[HoltLinear]] over the running frame — struct(level, trend,
    * forecast); same direct WindowExpression construction as
    * [[seededEwmaOver]] (and for the same analysis reason). */
  def holtLinearOver(x: Column, alpha: Double, beta: Double,
                     partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    runningOver(HoltLinear(e(x), alpha, beta), partitionBy, orderBy)

  /** [[CusumState]] over the running frame — struct(pos, neg). */
  def cusumOver(x: Column, target: Double, allowance: Double,
                partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    runningOver(CusumState(e(x), target, allowance), partitionBy, orderBy)

  private def runningOver(f: Expression, partitionBy: Seq[Column],
                          orderBy: Seq[Column]): Column = {
    import org.apache.spark.sql.catalyst.expressions.{
      Ascending, CurrentRow, RowFrame, SortOrder, SpecifiedWindowFrame,
      UnboundedPreceding, WindowExpression, WindowSpecDefinition}
    c(WindowExpression(f,
      WindowSpecDefinition(partitionBy.map(e),
        orderBy.map(o => SortOrder(e(o), Ascending)),
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))))
  }
}
