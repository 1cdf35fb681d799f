package graft

import java.util.Properties

import graft.config.TableSpec
import graft.sink.SqlDialect
import org.apache.spark.sql.DataFrame

/** The benchmark's handle on [[Replicator.applyBatch]], which the library
  * keeps package-private: the traced run times the apply step alone. */
object BenchAccess {
  def applyBatch(batch: DataFrame, specs: Seq[TableSpec], url: String, props: Properties,
      dialect: SqlDialect): Option[Long] =
    Replicator.applyBatch(batch, specs, url, props, dialect = dialect)
}
