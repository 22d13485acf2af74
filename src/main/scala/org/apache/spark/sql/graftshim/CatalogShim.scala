package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogUtils}
import org.apache.spark.sql.connector.catalog.{Table, V1Table, V2TableWithV1Fallback}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `V1Table` — the wrapper `V2SessionCatalog.loadTable` returns for
  * session-catalog tables when a CUSTOM session catalog is installed
  * (with the builtin catalog it unwraps v2 providers itself; with an
  * extension it deliberately hands the raw V1Table over and lets the
  * extension convert — the contract DeltaCatalog builds on) — is
  * `private[sql]`. graft's [[graft.sources.txlog.GraftCatalog]] needs
  * to see through it to (a) recognize its own provider and (b) rebuild
  * the provider options `V2SessionCatalog.getDataSourceOptions` would
  * have built on the builtin path. Lives inside the sql package
  * namespace like the sibling shims; no Spark internals are modified. */
object CatalogShim {

  /** (provider, data-source options, declared schema) of a
    * session-catalog provider table, None for anything else (v2
    * tables, views). The options reproduce the builtin catalog's
    * composition exactly — table properties, then storage properties,
    * then the catalog LOCATION as `path` (location last, so it is the
    * authority, as `V2SessionCatalog.getDataSourceOptions` has it) —
    * so a conversion done by a catalog extension yields the identical
    * Table the builtin unwrap would have produced. */
  def v1DataSourceOptions(t: Table): Option[(String, CaseInsensitiveStringMap, StructType)] =
    t match {
      case v1: V1Table =>
        val ct = v1.catalogTable
        ct.provider.map { p =>
          val opts = ct.properties ++ ct.storage.properties ++
            ct.storage.locationUri.map(u => "path" -> CatalogUtils.URIToString(u))
          (p, new CaseInsensitiveStringMap(opts.asJava), ct.schema)
        }
      case _ => None
    }

  /** The catalog entry a session-catalog `V1Table` wraps. */
  def catalogEntry(t: Table): Option[CatalogTable] = t match {
    case v1: V1Table => Some(v1.catalogTable)
    case _           => None
  }
}

/** A v2 table that hands Spark its catalog entry (`v1Table`) for what
  * the table itself does not support: a streaming read by table name
  * of a table with no micro-batch read capability resolves to the
  * provider's v1 streaming source. `V2TableWithV1Fallback` is
  * `private[sql]`, hence the re-export. */
trait V1FallbackTable extends V2TableWithV1Fallback
