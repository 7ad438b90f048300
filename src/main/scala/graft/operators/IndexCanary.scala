package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** Catalog pre-flight for the PERSISTENT INDEX tables — the
  * [[graft.tools.SchemaCanary]] idea applied to the engine's own catalogs.
  *
  * The testdata canary polices what a GENERATOR writes; this one polices
  * what a PRIOR VERSION of this engine wrote. The probe/search/append
  * paths assume each index table's exact column set, column types, and
  * bucket layout (the zero-Exchange probe join and the `SelectedBucketsCount`
  * pruning both key on the bucket spec in the catalog entry). A
  * cross-version index-format drift — a renamed column, a widened type, an
  * unbucketed rewrite, a bucket column moved — would otherwise surface as
  * a wrong-bucket probe (silently slow) or an analysis error three layers
  * from the cause. One driver-side catalog-metadata read per table names
  * the drifted field directly.
  *
  * Policy differs from the testdata canary ON PURPOSE: that one reports
  * and keeps running (so a 62-query correctness gate degrades to "7 red
  * rows with a cause attached", not 57). This one THROWS — an index whose
  * physical contract drifted cannot answer a probe correctly, and the
  * callers are single operators, not whole gates; failing the one call
  * with the table/field/expected/found spelled out IS the good outcome.
  *
  * Cost: `getTableMetadata` is an in-memory catalog read (no file
  * listing); verdicts are additionally cached per (location, createTime),
  * so a streaming gate calling search per micro-batch re-verifies only
  * after a build/rebuild recreates the table.
  *
  * Scope: the BUCKETED index tables. Index models are [[ModelStore]]
  * generations, written and read with a fixed schema per part.
  */
object IndexCanary {

  /** Expected physical contract of one index table: column name →
    * catalog type string (as `DataType.catalogString` prints it), plus
    * the bucket column. Bucket COUNT is layout-tunable (build's `buckets`
    * param), so the canary pins the column and requires a positive count
    * rather than a magic 8 — an append with a mismatched count is already
    * rejected by Spark against the catalog's spec. `optional` columns are
    * TIER columns (e.g. the PQ code leg): absent on an index built without
    * the tier, but if present they must match the pinned type — a drifted
    * optional column is still drift. */
  final case class Shape(cols: Seq[(String, String)], bucketCol: String,
                         optional: Seq[(String, String)] = Nil)

  /** Keyed by table-name SUFFIX — the naming contract of
    * [[ShingleIndex]]/[[IvfIndex]]/[[ImiIndex]] (`<tag>_occ`, …). */
  val shapes: Map[String, Shape] = Map(
    "_occ" -> Shape(Seq("key" -> "bigint", "corpus_id" -> "bigint"), "key"),
    "_sizes" -> Shape(Seq("corpus_id" -> "bigint", "nc" -> "bigint"), "corpus_id"),
    "_fp" -> Shape(Seq("fp" -> "string"), "fp"),
    "_sat" -> Shape(Seq("key" -> "bigint"), "key"),
    "_ivfassign" -> Shape(
      Seq("vec_id" -> "bigint", "cid" -> "int", "embedding" -> "array<float>",
        "nrm" -> "double", "qvec" -> "binary", "qnrm" -> "double"), "cid",
      optional = Seq("pqcode" -> "binary")),
    "_imiassign" -> Shape(
      Seq("vec_id" -> "bigint", "cell_id" -> "bigint", "embedding" -> "array<float>",
        "nrm" -> "double"), "cell_id"))

  /** table name → verified catalog version (location#createTime). */
  private val okCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Test seam: forget cached verdicts (a spec that mutates a table it
    * already verified would otherwise be invisible to the canary). */
  private[graft] def invalidate(table: String): Unit = okCache.remove(table)

  /** Verify `tables` against their suffix-matched shapes; throw a named
    * error on the first drifted table. Tables with no matching suffix, or
    * absent from the catalog, are skipped — absence is the caller's
    * normal TABLE_OR_VIEW_NOT_FOUND (or a lazy-create migration shim),
    * which already names the problem. */
  def check(spark: SparkSession, tables: String*): Unit = tables.foreach { t =>
    shapes.find { case (suffix, _) => t.endsWith(suffix) }.foreach { case (_, shape) =>
      if (spark.catalog.tableExists(t)) {
        val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
        val version = s"${meta.location}#${meta.createTime}"
        if (okCache.get(t) != version) {
          val found = meta.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
          val violations = Seq.newBuilder[String]
          shape.cols.foreach { case (name, tpe) =>
            found.get(name) match {
              case None => violations += s"column `$name`: MISSING (expected $tpe)"
              case Some(ft) if ft != tpe =>
                violations += s"column `$name`: expected $tpe, found $ft"
              case _ =>
            }
          }
          // optional tier columns: absence is fine, a type drift is not
          shape.optional.foreach { case (name, tpe) =>
            found.get(name).filter(_ != tpe).foreach { ft =>
              violations += s"column `$name`: expected $tpe, found $ft"
            }
          }
          // extra columns are drift too: an index table is engine-written,
          // so an unexpected column means a format change this version
          // does not understand (unlike testdata, where extras are additive)
          (found.keySet -- shape.cols.map(_._1) -- shape.optional.map(_._1))
            .toSeq.sorted.foreach { extra =>
              violations += s"column `$extra`: UNEXPECTED (found ${found(extra)})"
            }
          val bc = shape.bucketCol
          meta.bucketSpec match {
            case None => violations += s"bucket spec: MISSING (expected bucketed by `$bc`)"
            case Some(bs) =>
              if (bs.bucketColumnNames != Seq(bc))
                violations += s"bucket column: expected `$bc`, " +
                  s"found `${bs.bucketColumnNames.mkString(",")}`"
              if (bs.numBuckets <= 0)
                violations += s"bucket count: expected > 0, found ${bs.numBuckets}"
          }
          val v = violations.result()
          if (v.nonEmpty) throw new IllegalStateException(
            s"[index-canary] table `$t` does not match this version's index format — " +
              "probe/append against it would be silently wrong; rebuild the index " +
              s"or migrate the table. Drift: ${v.mkString("; ")}")
          okCache.put(t, version)
        }
      }
    }
  }
}
