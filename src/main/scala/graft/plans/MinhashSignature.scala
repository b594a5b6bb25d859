package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Codegen'd MinHash signature over a shingle-set column: one fused
  * per-row loop hashes each shingle ONCE (`XXH64.hashUTF8String`, seed
  * 42 — bit-identical to the built-in `xxhash64(shingle)`) and folds
  * all `numHashes` running minima of `(a_i·x + b_i) mod P` in place.
  *
  * Why a custom expression (the preference-order case for rung (b)):
  *  - The composed-builtin per-row form — nested `transform`/
  *    `aggregate` higher-order functions — re-evaluates the shingle
  *    hash |shingles|×numHashes times after projection collapse
  *    (measured 20× slower at sf0.1; see `Dedup.bandedOf`'s history).
  *  - The explode→groupBy(min…) form hashes once but routes every
  *    (doc, shingle) row through aggregation machinery and requires
  *    the stream to be clustered by doc id.
  *  This expression keeps the hash-once property of the aggregate form
  *  with the shape of a pure projection: NO aggregation state, NO
  *  clustering requirement, NO exploded intermediate — at 100 TB the
  *  signature step pipelines inside whole-stage codegen directly over
  *  the scan. Output is bit-identical to the aggregate form (asserted
  *  in PlansSpec), so swapping paths cannot change a single LSH band.
  *
  * Semantics matched to the aggregate form exactly:
  *  - null elements are skipped (the aggregate path filters them);
  *  - an empty / all-null array yields NULL (the aggregate path's
  *    group never materializes), so callers `.filter(isNotNull)`;
  *  - arithmetic is `floorMod`, matching SQL `pmod` on longs, with
  *    a·x + b < 2^62 (a, b, x < P = 2^31−1) — no overflow.
  *
  * Seeds come from [[graft.ext.Dedup.seedPairs]] (java.util.Random LCG,
  * pinned by the JDK spec), so signatures are stable across JVMs and
  * interchangeable with indexes built by the aggregate path.
  */
case class MinhashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  @transient private lazy val (seedA, seedB) = {
    val (a, b) = graft.ext.Dedup.seedPairs(numHashes, seed).unzip
    (a.toArray, b.toArray)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val p = graft.ext.Dedup.P
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var any = false
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        any = true
        val x = java.lang.Math.floorMod(XXH64.hashUTF8String(arr.getUTF8String(j), 42L), p)
        var i = 0
        while (i < numHashes) {
          val v = java.lang.Math.floorMod(seedA(i) * x + seedB(i), p)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (!any) null else UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashSeedA", seedA, "long[]")
    val bRef = ctx.addReferenceObj("minhashSeedB", seedB, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val (n, j, i, x, v, mins, any) = (
        ctx.freshName("n"), ctx.freshName("j"), ctx.freshName("i"),
        ctx.freshName("x"), ctx.freshName("v"), ctx.freshName("mins"),
        ctx.freshName("any"))
      s"""
         |int $n = $c.numElements();
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$c.isNullAt($j)) {
         |    $any = true;
         |    long $x = java.lang.Math.floorMod(
         |      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
         |        $c.getUTF8String($j), 42L), ${graft.ext.Dedup.P}L);
         |    for (int $i = 0; $i < $numHashes; $i++) {
         |      long $v = java.lang.Math.floorMod($aRef[$i] * $x + $bRef[$i], ${graft.ext.Dedup.P}L);
         |      if ($v < $mins[$i]) $mins[$i] = $v;
         |    }
         |  }
         |}
         |if (!$any) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSignature {
  val fnName = "minhash_sig"

  /** `minhash_sig(shingles, numHashes, seed)` — numHashes/seed must be
    * foldable int/long literals (they parameterize generated code).
    * The one argument check, shared by [[of]] and the SQL name that
    * [[GraftExtensions]] binds.
    */
  private[plans] def build(children: Seq[Expression]): Expression = {
    require(children.length == 3, s"$fnName expects (array<string>, int numHashes, bigint seed)")
    val n = children(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(s"$fnName numHashes must be an int literal, got $other")
    }
    val s = children(2) match {
      case Literal(v: Long, LongType) => v
      case Literal(v: Int, IntegerType) => v.toLong
      case other => throw new IllegalArgumentException(s"$fnName seed must be a long literal, got $other")
    }
    MinhashSignature(children.head, n, s)
  }

  /** Registry-free Column entry: plans on any session. */
  def of(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    GraftSqlShim.column(
      build(Seq(GraftSqlShim.expression(shingles), Literal(numHashes), Literal(seed))))
}
