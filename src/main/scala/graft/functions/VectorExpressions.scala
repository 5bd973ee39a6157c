package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native expressions for the vector/fingerprint hot paths.
  *
  * The built-in higher-order-function formulations
  * (`aggregate(sequence(…))`) are interpreted per element per row —
  * at n² pair counts that dominates the runtime. These expressions
  * do the same arithmetic in a tight loop. DotProductExpr
  * accumulates left-to-right in double precision, bit-identical to
  * the SQL-oracle fold it replaces.
  */
object VectorExpressions {

  /** Σ a[i]·b[i], double accumulation, ascending index order.
    * Implements doGenCode so surrounding projections keep their
    * WholeStageCodegen span (a CodegenFallback here would split it). */
  case class DotProductExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType

    private def isFloat(e: Expression): Boolean =
      e.dataType.asInstanceOf[ArrayType].elementType == FloatType

    private lazy val lf = isFloat(left)
    private lazy val rf = isFloat(right)

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
        s += x * y
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        // freshName: fixed identifiers collide when two dot products
        // land in one projection (cosine = three of them) and the
        // whole projection silently falls back to interpreted mode
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val getL = if (lf) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
        val getR = if (rf) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += $getL * $getR;
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): DotProductExpr = copy(l, r)
  }

  /** Jaccard similarity of two SORTED arrays by merge walk — O(n+m)
    * comparisons, no per-row hash set like array_intersect. |A∪B| is
    * derived as |A|+|B|−|A∩B| (inputs must be distinct). Accepts
    * string arrays or long arrays (pre-hashed tokens — the 100 TB
    * path: long compares are ~10× cheaper and the rows joined to the
    * verification stage shrink by the same factor). */
  case class JaccardSortedExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType

    private lazy val isLong =
      left.dataType.asInstanceOf[ArrayType].elementType == LongType

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      val m = b.numElements()
      var i = 0; var j = 0; var inter = 0
      if (isLong) {
        while (i < n && j < m) {
          val x = a.getLong(i); val y = b.getLong(j)
          if (x == y) { inter += 1; i += 1; j += 1 }
          else if (x < y) i += 1
          else j += 1
        }
      } else {
        while (i < n && j < m) {
          val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
          if (c == 0) { inter += 1; i += 1; j += 1 }
          else if (c < 0) i += 1
          else j += 1
        }
      }
      val union = n + m - inter
      if (union == 0) 1.0 else inter.toDouble / union
    }

    // codegen keeps the verification projection inside its
    // WholeStageCodegen span — a CodegenFallback here costs an
    // interpreted eval per candidate pair, which dominates at
    // millions of pairs
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val m = ctx.freshName("m")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
        val union = ctx.freshName("union")
        val step =
          if (isLong)
            s"""long $c = java.lang.Long.compare($a.getLong($i), $b.getLong($j));"""
          else
            s"""int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));"""
        s"""
           |int $n = $a.numElements(); int $m = $b.numElements();
           |int $i = 0; int $j = 0; int $inter = 0;
           |while ($i < $n && $j < $m) {
           |  $step
           |  if ($c == 0) { $inter++; $i++; $j++; }
           |  else if ($c < 0) { $i++; } else { $j++; }
           |}
           |int $union = $n + $m - $inter;
           |${ev.value} = ($union == 0) ? 1.0 : ((double) $inter) / $union;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): JaccardSortedExpr = copy(l, r)
  }

  /** k MinHash values of a token array in one pass: per token one
    * xxhash64 base, then k cheap long re-hashes. O(n·k) long mixing
    * instead of O(n·k) string hashing. A LONG input array is treated
    * as already-hashed tokens (Spark's builtin `xxhash64` uses the
    * same seed-42 XXH64, so signatures are bit-identical either way —
    * pre-hashing just moves the string hashing before the shuffle). */
  case class MinHashSigExpr(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    private lazy val isLong =
      child.dataType.asInstanceOf[ArrayType].elementType == LongType

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val mins = Array.fill(k)(Long.MaxValue)
      val n = arr.numElements()
      var t = 0
      while (t < n) {
        val base = if (isLong) arr.getLong(t) else {
          val s = arr.getUTF8String(t)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
            s.numBytes, 42L)
        }
        var i = 0
        while (i < k) {
          val h = XXH64.hashLong(base, i.toLong)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
        t += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
      copy(child = c)
  }

  /** Content-defined chunk cut pairs of a token array: boundary
    * after 1-based position i (i ≥ 3) whenever md5 of the 3-token
    * window "t_{i-2} t_{i-1} t_i" has low nibble 0 (≡ the hex
    * digest's last char '0', exactly what the SQL oracle tests);
    * returns the (s, e] pairs including the trailing partial chunk.
    * One compiled pass with a reused digest — the `aggregate()` HOF
    * fold of the same recurrence is interpreted per element with a
    * struct-state copy per step (31 s at the 8× corpus where this
    * runs ~2 s). */
  case class CdcCutsExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("s", IntegerType, nullable = false),
        StructField("e", IntegerType, nullable = false))),
      containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val md = java.security.MessageDigest.getInstance("MD5")
      val cuts = scala.collection.mutable.ArrayBuffer.empty[Any]
      var last = 0
      var i = 3
      while (i <= n) {
        md.reset()
        md.update(arr.getUTF8String(i - 3).getBytes)
        md.update(' '.toByte)
        md.update(arr.getUTF8String(i - 2).getBytes)
        md.update(' '.toByte)
        md.update(arr.getUTF8String(i - 1).getBytes)
        if ((md.digest()(15) & 0x0F) == 0) {
          cuts += new GenericInternalRow(Array[Any](last, i))
          last = i
        }
        i += 1
      }
      // trailing partial chunk (a 0-token doc yields no pair)
      if (last < n) cuts += new GenericInternalRow(Array[Any](last, n))
      new GenericArrayData(cuts.toArray)
    }
    override protected def withNewChildInternal(c: Expression): CdcCutsExpr =
      copy(child = c)
  }

  /** 64-bit SimHash of a string array: bit b (0–63) of the
    * fingerprint is set iff STRICTLY more token hashes have bit b
    * set than clear, where a token's bit b is bit (b mod 4) of hex
    * digit (b div 4) of md5(token). The md5-derived family is what
    * makes d_dedup_simhash an EXACT oracle: DuckDB's md5() produces
    * the identical hex string, so per-bit strpos digit masks replay
    * the whole fingerprint + banded-hamming pipeline in ANSI SQL
    * (the e_knn_lsh hyperplane trick applied to bit extraction).
    * Cost vs the previous xxhash64 family: measured 1.3× on the
    * whole query at sf0.1 (0.72→0.93 s in the full-gate session) —
    * bounded to the
    * map-side one-shot fingerprint pass (simhash hashes each token
    * ONCE; contrast minhash's 128-perm pass, where the same md5
    * trade would be the entire corpus-scan budget and is declined,
    * see d_dedup_minhash's never-oracle note). */
  case class SimHash64Expr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      val n = arr.numElements()
      val md = java.security.MessageDigest.getInstance("MD5")
      var t = 0
      while (t < n) {
        val dig = md.digest(arr.getUTF8String(t).getBytes)
        var k = 0
        while (k < 16) {
          val nib = if ((k & 1) == 0) (dig(k >> 1) >>> 4) & 0xF
                    else dig(k >> 1) & 0xF
          val base = k << 2
          counts(base) += nib & 1
          counts(base + 1) += (nib >>> 1) & 1
          counts(base + 2) += (nib >>> 2) & 1
          counts(base + 3) += (nib >>> 3) & 1
          k += 1
        }
        t += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) {
        if (2 * counts(b) > n) out |= (1L << b)
        b += 1
      }
      out
    }
    override protected def withNewChildInternal(c: Expression): SimHash64Expr =
      copy(child = c)
  }
}
