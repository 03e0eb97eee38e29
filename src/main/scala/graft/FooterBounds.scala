package graft

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.Locale
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation,
  IntLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.parquet.schema.{PrimitiveType, Type}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression,
  GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.FILTER
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, TimestampNTZType,
  TimestampType}

/** Per-file column bounds from parquet footer statistics, kept only where
  * they are exactly the values Spark reads: signed INT32/INT64 columns read
  * as Int, Long, Date, Timestamp or TimestampNTZ (MICROS), in a file with no
  * `org.apache.spark.legacy*` key (no read rebase), dates from 1582-10-15 and
  * timestamps from 1900-01-01 on (no rebase can move them), statistics in
  * every row group, and one top-level column of the name, compared
  * case-insensitively. Strings, floating point, decimals, NANOS, MILLIS and
  * INT96 get none.
  *
  * Spark's own row-group filter cannot stand in: `ParquetFilters` builds no
  * filter on a `TIMESTAMP(isAdjustedToUTC=false)` column. */
object FooterBounds {

  /** Non-null `min`/`max` of a column in one file, as the `dataType` Spark
    * must read it as; `allNull` when the file holds no non-null value. */
  final case class Bound(dataType: DataType, min: Long, max: Long, allNull: Boolean)

  /** A file's bounds by lower-cased column name; empty when none is exact. */
  type FileBounds = Map[String, Bound]

  private val MinDate = LocalDate.of(1582, 10, 15).toEpochDay
  private val MinMicros = LocalDateTime.of(1900, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L

  /** Read one file's footer on the driver. An unreadable footer bounds nothing. */
  def read(file: FileStatus, conf: Configuration): FileBounds = Try {
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), NO_FILTER)
    val meta = footer.getFileMetaData
    if (meta.getKeyValueMetaData.keySet.asScala.exists(_.startsWith("org.apache.spark.legacy")))
      Map.empty[String, Bound]
    else {
      val blocks = footer.getBlocks.asScala.toSeq
      meta.getSchema.getFields.asScala.toSeq.groupBy(_.getName.toLowerCase(Locale.ROOT)).flatMap {
        case (name, Seq(f)) if f.isPrimitive && f.getRepetition != Type.Repetition.REPEATED =>
          sparkType(f.asPrimitiveType).flatMap { t =>
            // per row group: Some(Some(min, max)), Some(None) all NULL, None unknown
            val groups = blocks.map(_.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(f.getName)))
              .flatMap { c =>
                val s = c.getStatistics
                if (s == null) None
                else if (s.hasNonNullValue) Some(Some((long(s.genericGetMin), long(s.genericGetMax))))
                else if (s.isNumNullsSet && s.getNumNulls == c.getValueCount) Some(None)
                else None
              })
            if (groups.exists(_.isEmpty)) None
            else groups.flatten.flatten match {
              case Nil => Some(Bound(t, 0L, 0L, allNull = true))
              case xs =>
                val b = Bound(t, xs.map(_._1).min, xs.map(_._2).max, allNull = false)
                val floor = t match {
                  case DateType => MinDate
                  case TimestampType | TimestampNTZType => MinMicros
                  case _ => Long.MinValue
                }
                Some(b).filter(_.min >= floor)
            }
          }.map(name -> _)
        case _ => None
      }
    }
  }.getOrElse(Map.empty)

  private def long(v: Any): Long = v match {
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long => l
  }

  private def sparkType(p: PrimitiveType): Option[DataType] =
    (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
      case (INT32, null) => Some(IntegerType)
      case (INT32, i: IntLogicalTypeAnnotation) if i.isSigned && i.getBitWidth == 32 => Some(IntegerType)
      case (INT32, _: DateLogicalTypeAnnotation) => Some(DateType)
      case (INT64, null) => Some(LongType)
      case (INT64, i: IntLogicalTypeAnnotation) if i.isSigned && i.getBitWidth == 64 => Some(LongType)
      case (INT64, t: TimestampLogicalTypeAnnotation) if t.getUnit == TimeUnit.MICROS =>
        Some(if (t.isAdjustedToUTC) TimestampType else TimestampNTZType)
      case _ => None
    }

  /** True when `c` is false or NULL for every row of a file with `bounds`:
    * a comparison of a bounded column with a literal of its type that the
    * bounds rule out, or that a NULL operand makes NULL. */
  private def refutes(c: Expression, bounds: FileBounds): Boolean = {
    val cmp = c match {
      case LessThan(a: AttributeReference, v: Literal) => Some((a, "<", v))
      case LessThan(v: Literal, a: AttributeReference) => Some((a, ">", v))
      case LessThanOrEqual(a: AttributeReference, v: Literal) => Some((a, "<=", v))
      case LessThanOrEqual(v: Literal, a: AttributeReference) => Some((a, ">=", v))
      case GreaterThan(a: AttributeReference, v: Literal) => Some((a, ">", v))
      case GreaterThan(v: Literal, a: AttributeReference) => Some((a, "<", v))
      case GreaterThanOrEqual(a: AttributeReference, v: Literal) => Some((a, ">=", v))
      case GreaterThanOrEqual(v: Literal, a: AttributeReference) => Some((a, "<=", v))
      case EqualTo(a: AttributeReference, v: Literal) => Some((a, "=", v))
      case EqualTo(v: Literal, a: AttributeReference) => Some((a, "=", v))
      case _ => None
    }
    cmp.exists { case (a, op, v) =>
      bounds.get(a.name.toLowerCase(Locale.ROOT))
        .filter(b => b.dataType == a.dataType && v.dataType == a.dataType)
        .exists { b =>
          v.value == null || b.allNull || {
            val x = long(v.value)
            op match {
              case "<" => b.min >= x
              case "<=" => b.min > x
              case ">" => b.max <= x
              case ">=" => b.max < x
              case "=" => x < b.min || x > b.max
            }
          }
        }
    }
  }

  /** The optimizer rule [[graft.runtime.Dialect]] installs: a filter over a
    * source relation [[Tables]] holds becomes an empty relation when, for
    * every file, some conjunct is refuted by the file's bounds. Spark's own
    * `PropagateEmptyRelation` then empties the joins, aggregates and
    * repartitions above it. Partition columns carry no bounds. */
  final case class EmptyScan(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformWithPruning(_.containsPattern(FILTER)) {
      case f @ Filter(cond, l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _))
          if Tables.bounds(spark, r).exists { files =>
            val data = r.dataSchema.fieldNames.map(_.toLowerCase(Locale.ROOT)).toSet --
              r.partitionSchema.fieldNames.map(_.toLowerCase(Locale.ROOT))
            val conjuncts = splitConjunctivePredicates(cond).filter(_.references.forall(a =>
              l.outputSet.contains(a) && data.contains(a.name.toLowerCase(Locale.ROOT))))
            conjuncts.nonEmpty && files.forall(b => conjuncts.exists(refutes(_, b)))
          } =>
        LocalRelation(f.output, Nil, f.isStreaming)
    }
  }
}
