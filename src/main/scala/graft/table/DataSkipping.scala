package graft.table

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan,
  LessThanOrEqual, Literal, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types._

/** File-level min/max pruning — the table-layer twin of Delta data skipping
  * (SURVEY.md §4.2). Given a scan predicate, drop files whose stats prove no
  * row can match, before Spark splits and reads them: reads get it from
  * [[GraftFileIndex]] with the filters Spark pushes into the scan, DML and
  * the conflict checker from [[GraftTable.prunedFiles]].
  *
  * The predicate is a resolved Catalyst expression (a user Column is
  * resolved against the table schema first — Spark 4 Columns are lazy
  * ColumnNodes until analysis), so we match fully-typed nodes; any foldable
  * side (e.g. `cast('2024-01-01' as timestamp)`) is evaluated to a literal.
  *
  * Conservative by construction: a file is only skipped when a top-level
  * conjunct is provably false over the file's [min, max]; any unrecognized
  * shape, missing stat, or unordered type keeps the file. Correctness never
  * depends on skipping — it only removes provably-dead I/O
  * (property-checked against unpruned reads in ReadPathSpec).
  *
  * At 100 TB this is the difference between planning 100k file splits and
  * reading the handful whose range covers a selective predicate.
  */
object DataSkipping {

  private type Ord = Either[BigDecimal, String]

  /** Resolve a user predicate against `schema`, returning the typed
    * Catalyst condition (analysis only — nothing executes). */
  def resolve(spark: SparkSession, schema: StructType, pred: Column): Expression = {
    val dummy = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    dummy.filter(pred).queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition
    }.getOrElse(throw new IllegalStateException(s"could not resolve predicate $pred"))
  }

  def prune(resolvedPred: Expression, files: Seq[AddFile]): Seq[AddFile] =
    files.filter(matcher(resolvedPred))

  /** The predicate as a test on one file: true ⇒ the file may contain
    * matching rows (must be read). Prepared once for many files: an IN
    * list (`In`, or the `InSet` the optimizer turns a long one into) is
    * sorted once, so each file costs one binary search over it, not one
    * check per value — a 100k-key list over 1M files stays cheap. */
  def matcher(resolvedPred: Expression): AddFile => Boolean = {
    val tests: Seq[AddFile => Boolean] = splitConjuncts(resolvedPred).map {
      case In(a, vs) if vs.nonEmpty => inList(a, vs.map(litValue))
      case InSet(a, hset) if hset.nonEmpty =>
        inList(a, hset.toSeq.map(v => litValue(Literal(v, a.dataType))))
      case c => (f: AddFile) => conjunctMayMatch(c, f)
    }
    f => tests.forall(_(f))
  }

  /** `a IN (values)`: the file may match iff some value lies in its
    * [min, max] and the column is not all null. Any value that is not an
    * ordered literal (a null, a non-foldable, an unordered type) keeps
    * every file. */
  private def inList(a: Expression, vals: Seq[Option[Ord]]): AddFile => Boolean =
    attrName(a) match {
      case Some(n) if binaryOrdered(a) && vals.forall(_.isDefined) =>
        val sorted = vals.flatten.sortWith((x, y) => cmp(x, y).exists(_ < 0)).toIndexedSeq
        val asString = sorted.head.isRight
        f => !allNull(f, n) && (bounds(f, n, asString) match {
          case None => true
          case Some((lo, hi)) =>
            // first value >= min, then is it <= max?
            var l = 0
            var h = sorted.size
            while (l < h) {
              val m = (l + h) >>> 1
              if (cmp(sorted(m), lo).exists(_ < 0)) l = m + 1 else h = m
            }
            l < sorted.size && cmp(sorted(l), hi).forall(_ <= 0)
        })
      case _ => _ => true
    }

  /** Byte-ORDER soundness gate for stat bounds: footer min/max are
    * byte-ordered, so every interval test against them is meaningless
    * under a collation that orders differently ('GERMANY' = 'germany'
    * under UTF8_LCASE but a byte-range apart) — acting on the bounds
    * would prune files whose rows MATCH. Non-string types always pass. */
  private def binaryOrdered(e: Expression): Boolean = e.dataType match {
    // the singleton IS the UTF8_BINARY collation (equals compares
    // collationId); every other collation is conservatively unordered —
    // the finer supportsBinaryOrdering distinction is private[sql]
    case st: StringType => st == StringType
    case _ => true
  }

  /** Byte-EQUALITY soundness gate for bloom probes: a bloom holds hashes
    * of the stored bytes, so probing a collation-equal-but-byte-different
    * value would miss and wrongly skip the file. */
  private def binaryEquality(e: Expression): Boolean = e.dataType match {
    case st: StringType => st == StringType
    case _ => true
  }

  /** Equality probes for bloom-filter skipping: column → candidate values
    * from top-level `col = v` / `col IN (...)` conjuncts, as raw Catalyst
    * literal values. Only these shapes can consult a bloom (range predicates
    * cannot); anything else simply contributes no probe. */
  def equalityProbes(resolved: Expression): Map[String, Seq[Any]] = {
    def rawLit(e: Expression): Option[Any] =
      if (!e.foldable) None
      else try Option(e.eval(null)) catch { case _: Exception => None }
    val pairs = splitConjuncts(resolved).flatMap {
      case EqualTo(a: AttributeReference, l) if binaryEquality(a) =>
        rawLit(l).map(v => a.name -> Seq(v))
      case EqualTo(l, a: AttributeReference) if binaryEquality(a) =>
        rawLit(l).map(v => a.name -> Seq(v))
      case In(a: AttributeReference, vs) if vs.nonEmpty && binaryEquality(a) =>
        val evs = vs.map(rawLit)
        if (evs.forall(_.isDefined)) Some(a.name -> evs.flatten) else None
      // the optimizer's form of a long IN list; its values are already the
      // literals' evaluated form
      case InSet(a: AttributeReference, hset) if hset.nonEmpty && binaryEquality(a) &&
          !hset.contains(null) =>
        Some(a.name -> hset.toSeq)
      case _ => None
    }
    // several conjuncts on one column union their candidates — the bloom
    // check stays conservative (exists-semantics can only under-skip)
    pairs.groupBy(_._1).map { case (n, g) => n -> g.flatMap(_._2).distinct }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  /** Stat key of a declared variant shred target (`variant.shred.paths`):
    * the name of the typed sibling column the write path materializes, so
    * its footer min/max/null-count land in AddFile stats under this key. */
  def shredStatName(col: String, path: String, dt: DataType): String =
    s"__shred_${col}_${path.replaceAll("[^A-Za-z0-9]", "_")}_${dt.typeName}"

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    // try_variant_get over a declared shred path reads the shredded
    // column's stats. ONLY try semantics (failOnError = false): the stats
    // were computed with try_variant_get, and skipping a file that a
    // STRICT variant_get would have thrown a cast error on would silence
    // the error — so strict gets never prune. Type is part of the key:
    // a '$.k' read as long and as string are different stats.
    case vg: org.apache.spark.sql.catalyst.expressions.variant.VariantGet
        if !vg.failOnError =>
      (vg.child, vg.path) match {
        case (a: AttributeReference, Literal(p, StringType)) if p != null =>
          Some(shredStatName(a.name, p.toString, vg.dataType))
        case _ => None
      }
    case _ => None
  }

  /** Foldable side of a comparison as an ordered value:
    * numeric/timestamp (BigDecimal) or string. */
  private def litValue(e: Expression): Option[Ord] = {
    if (!e.foldable) return None
    val v = try e.eval(null) catch { case _: Exception => return None }
    if (v == null) return None
    e.dataType match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
           _: DoubleType | _: FloatType | _: DecimalType =>
        Some(Left(BigDecimal(v.toString)))
      case _: TimestampType => Some(Left(BigDecimal(v.toString))) // micros
      // NTZ evaluates to LOCAL micros — the exact unit the footer harvest
      // records for isAdjustedToUTC=false parquet columns
      case TimestampNTZType => Some(Left(BigDecimal(v.toString)))
      case _: DateType      => Some(Left(BigDecimal(v.toString))) // epoch days
      // collated strings refuse: the byte-ordered stat bounds do not
      // order these values (see binaryOrdered)
      case st: StringType if st == StringType => Some(Right(v.toString))
      case _                => None
    }
  }

  /** ISO-8601 timestamp stat → comparable micros: zoned forms normalize
    * to UTC micros (TimestampType's comparison unit), zoneless forms to
    * local micros (NTZ's). Delta serializes timestamp stats as ISO
    * strings — both in REAL delta logs (read interop: without this,
    * time-range predicates never prune a foreign table) and, since round
    * 16, in graft's own compat emissions. */
  private def isoMicros(s: String): BigDecimal = {
    val t = s.replace(' ', 'T')
    val micros =
      try {
        val odt = java.time.OffsetDateTime.parse(t)
        odt.toInstant.getEpochSecond * 1000000L + odt.getNano / 1000L
      } catch { case _: java.time.format.DateTimeParseException =>
        val ldt = java.time.LocalDateTime.parse(t)
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000L
      }
    BigDecimal(micros)
  }

  /** A file's [min, max] stats for `name`, as strings or ordered numbers. */
  private def bounds(f: AddFile, name: String, asString: Boolean): Option[(Ord, Ord)] =
    for {
      lo <- f.minValues.get(name)
      hi <- f.maxValues.get(name)
      b <- if (asString) Some((Right(lo): Ord, Right(hi): Ord))
           else scala.util.Try((Left(BigDecimal(lo)): Ord, Left(BigDecimal(hi)): Ord)).toOption
             .orElse(scala.util.Try(
               (Left(isoMicros(lo)): Ord, Left(isoMicros(hi)): Ord)).toOption)
    } yield b

  private def cmp(a: Ord, b: Ord): Option[Int] = (a, b) match {
    case (Left(x), Left(y))   => Some(x.compare(y))
    case (Right(x), Right(y)) => Some(x.compare(y))
    case _                    => None
  }

  // null-count tier (independent of min/max): a file whose footer proves
  // zero nulls can't serve IS NULL; all-null can't serve IS NOT NULL —
  // and an all-null column can't match ANY comparison either, so the
  // value checks compose it in. Absent count → unknown → keep.
  private def allNull(f: AddFile, name: String): Boolean =
    f.nullCounts.get(name).contains(f.numRecords)

  private def conjunctMayMatch(c: Expression, f: AddFile): Boolean = {
    // op receives (cmp(min, v), cmp(max, v)) and answers "may match?"
    def check(name: String, v: Ord, op: (Int, Int) => Boolean): Boolean =
      bounds(f, name, v.isRight) match {
        case Some((lo, hi)) =>
          (cmp(lo, v), cmp(hi, v)) match {
            case (Some(cl), Some(ch)) => op(cl, ch)
            case _                    => true
          }
        case None => true // no stats → cannot skip
      }

    // BOTH sides must be binary-ordered: the analyzer may leave the
    // literal in the default collation while the column is collated (or
    // vice versa), and either side escaping the gate would re-admit the
    // unsound byte-interval test
    def attrLit(a: Expression, l: Expression): Option[(String, Ord)] =
      if (!binaryOrdered(a)) None
      else for { n <- attrName(a); v <- litValue(l) } yield (n, v)

    def checkNN(name: String, v: Ord, op: (Int, Int) => Boolean): Boolean =
      !allNull(f, name) && check(name, v, op)

    c match {
      case IsNull(a) => attrName(a).forall(n => !f.nullCounts.get(n).contains(0L))
      case IsNotNull(a) => attrName(a).forall(n => !allNull(f, n))
      // col LIKE 'p%': matching strings form the interval [p, pNext) where
      // pNext = p with its last char incremented — skip when the file's
      // string range provably misses it (the log-prefix / path-prefix
      // query shape). Last char at Char.MaxValue → no upper bound, only
      // the lower check applies.
      case StartsWith(a, Literal(pfx, StringType)) if pfx != null &&
          binaryOrdered(a) =>
        attrName(a).forall { n =>
          if (allNull(f, n)) false
          else {
            val p = pfx.toString
            val upper: Option[String] =
              if (p.isEmpty || p.last == Char.MaxValue) None
              else Some(p.init + (p.last + 1).toChar)
            val geLower = check(n, Right(p), (_, ch) => ch >= 0)   // max >= p
            val ltUpper = upper.forall(u =>
              check(n, Right(u), (cl, _) => cl < 0))               // min < pNext
            geLower && ltUpper
          }
        }
      case EqualTo(a, l) => (attrLit(a, l) orElse attrLit(l, a)).forall {
        case (n, v) => checkNN(n, v, (cl, ch) => cl <= 0 && ch >= 0) }
      case GreaterThan(a, l) if attrLit(a, l).isDefined =>          // col > v
        attrLit(a, l).forall { case (n, v) => checkNN(n, v, (_, ch) => ch > 0) }
      case GreaterThan(l, a) if attrLit(a, l).isDefined =>          // v > col ⇔ col < v
        attrLit(a, l).forall { case (n, v) => checkNN(n, v, (cl, _) => cl < 0) }
      case GreaterThanOrEqual(a, l) if attrLit(a, l).isDefined =>   // col >= v
        attrLit(a, l).forall { case (n, v) => checkNN(n, v, (_, ch) => ch >= 0) }
      case GreaterThanOrEqual(l, a) if attrLit(a, l).isDefined =>   // v >= col ⇔ col <= v
        attrLit(a, l).forall { case (n, v) => checkNN(n, v, (cl, _) => cl <= 0) }
      case LessThan(a, l) if attrLit(a, l).isDefined =>             // col < v
        attrLit(a, l).forall { case (n, v) => checkNN(n, v, (cl, _) => cl < 0) }
      case LessThan(l, a) if attrLit(a, l).isDefined =>             // v < col ⇔ col > v
        attrLit(a, l).forall { case (n, v) => checkNN(n, v, (_, ch) => ch > 0) }
      case LessThanOrEqual(a, l) if attrLit(a, l).isDefined =>      // col <= v
        attrLit(a, l).forall { case (n, v) => checkNN(n, v, (cl, _) => cl <= 0) }
      case LessThanOrEqual(l, a) if attrLit(a, l).isDefined =>      // v <= col ⇔ col >= v
        attrLit(a, l).forall { case (n, v) => checkNN(n, v, (_, ch) => ch >= 0) }
      case _ => true // unknown shape → cannot skip
    }
  }
}
