package org.apache.spark.sql.jdbc

import org.apache.spark.sql.types.{DataType, StringType}

/** Spark's Derby dialect, but a NULL string binds as VARCHAR: Derby
  * refuses the built-in's CLOB NULL for a VARCHAR column, and takes a
  * VARCHAR NULL for VARCHAR and CLOB alike (created tables keep CLOB).
  * In Spark's package because the built-in dialect is private to it. */
private[jdbc] class GraftDerbyDialect extends DerbyDialect {
  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case StringType => Some(JdbcType("CLOB", java.sql.Types.VARCHAR))
    case _ => super.getJDBCType(dt)
  }
}

object GraftDerbyDialect {
  /** Puts this dialect in the built-in's place, once per JVM. */
  lazy val install: Unit = {
    JdbcDialects.unregisterDialect(DerbyDialect())
    JdbcDialects.registerDialect(new GraftDerbyDialect)
  }
}
