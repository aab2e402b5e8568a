package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** A query's plan builder: (session, fixture data dir) => result. */
  type Q = (SparkSession, String) => DataFrame
}
