package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.sum

/** Exact, summation-order-independent sums of double columns, so Spark's
  * partial-aggregation order cannot flip a bit of an oracle-hashed result:
  * each row is cast to a DECIMAL wide enough for its true decimal places
  * (the testdata is 2-decimal money and 2-decimal rates, so products with
  * one/two rates carry <=4/6 places and the casts are exact). */
private[queries] object DecimalSums {
  /** 2-decimal values. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  /** Products of a 2-decimal value and one 2-decimal rate. */
  def dsum4(c: Column): Column = sum(c.cast("decimal(22,4)")).cast("double")
  /** Products of a 2-decimal value and two 2-decimal rates. */
  def dsum6(c: Column): Column = sum(c.cast("decimal(24,6)")).cast("double")
}
