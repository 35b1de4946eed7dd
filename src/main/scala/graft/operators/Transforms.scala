package graft.operators

import graft.config.TableSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's row transforms (SURVEY §2 P1-P4) re-expressed as pure
  * `DataFrame => DataFrame` plan builders. Everything here is declarative
  * Column algebra — Catalyst prunes/pushes through it, and the whole block
  * stays inside WholeStageCodegen (no UDFs).
  */
object Transforms {

  /** P3: SQL-safe column naming — dot → underscore (reference `mysql.go:54-56`). */
  def col4sql(name: String): String = name.replace(".", "_")

  private def quotePath(path: Seq[String]): String = path.map(p => s"`$p`").mkString(".")

  /** P2: deterministic recursive flattening of nested structs, path segments
    * joined with `_` (reference `obj2plain`, `mongo.go:141-155`).
    *
    * Collision semantics (the reference leaves this ambiguous — map
    * iteration order, `mongo.go:148-152`): we resolve deterministically by
    * keeping the FIRST occurrence in schema field order and suffixing later
    * collisions with `__<n>`. Documented divergence per SURVEY §7.
    */
  def flatten(df: DataFrame): DataFrame = {
    def leaves(schema: StructType, prefix: Seq[String]): Seq[(String, Column)] =
      schema.fields.toSeq.flatMap { f =>
        val path = prefix :+ f.name
        f.dataType match {
          case s: StructType => leaves(s, path)
          case _             => Seq(path.mkString("_") -> col(quotePath(path)))
        }
      }
    val all = leaves(df.schema, Nil)
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val cols = all.map { case (name, c) =>
      val n = seen.getOrElse(name, 0)
      seen(name) = n + 1
      c.alias(if (n == 0) name else s"${name}__$n")
    }
    df.select(cols: _*)
  }

  /** P4: the scalar conversions the reference applies when binding values
    * (SURVEY §1.2): ObjectID → 24-hex string (`mysql.go:400-401`), BSON
    * array → JSON text (`mysql.go:402-404`), binary → encoded text
    * (`mysql.go:467-469` — update path only in the reference; we apply it
    * symmetrically, a documented fix). Everything else casts.
    */
  def convert(c: Column, from: DataType, to: DataType): Column = (from, to) match {
    case (_: ArrayType, StringType)  => to_json(c)
    case (_: MapType, StringType)    => to_json(c)
    case (_: StructType, StringType) => to_json(c)
    case (BinaryType, StringType)    => base64(c)
    case (f, t) if f == t            => c
    case (_, t)                      => c.cast(t)
  }

  /** Resolve a dotted source path against a (possibly nested) schema. */
  def resolveType(schema: StructType, dottedPath: String): Option[DataType] = {
    def go(dt: DataType, parts: List[String]): Option[DataType] = (dt, parts) match {
      case (t, Nil)                  => Some(t)
      case (s: StructType, p :: ps)  => s.fields.find(_.name == p).flatMap(f => go(f.dataType, ps))
      case _                         => None
    }
    go(schema, dottedPath.split('.').toList)
  }

  /** P1: projection to the declared schema — every declared column present,
    * absent source fields NULL-filled (`mysql.go:381-407`), nested paths
    * flattened to `_`-joined names, values converted per P4, all cast to the
    * declared Spark type. The PK rides along untouched when present.
    */
  def projectTo(df: DataFrame, spec: TableSpec): DataFrame = {
    val pkCols: Seq[Column] =
      if (df.columns.contains(spec.pk)) Seq(col(s"`${spec.pk}`").cast(StringType).alias(spec.pk))
      else Seq.empty
    val declared = spec.columns.map { cs =>
      resolveType(df.schema, cs.sourceName) match {
        case Some(srcType) =>
          convert(col(quotePath(cs.sourceName.split('.').toSeq)), srcType, cs.dataType)
            .cast(cs.dataType).alias(cs.sinkName)
        case None =>
          lit(null).cast(cs.dataType).alias(cs.sinkName) // NULL-fill
      }
    }
    df.select(pkCols ++ declared: _*)
  }
}
