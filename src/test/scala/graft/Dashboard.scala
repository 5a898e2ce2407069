package graft

/** The dashboard cycle: short registry queries over every layer, in the
  * order the `serve` benchmark workload runs them. Specs that pin what a
  * warm repeat of the cycle costs share this list. */
object Dashboard {
  val queries: Seq[String] = Seq(
    "q1_agg", "q2_min_cost_supplier", "q3_shipping_priority",
    "q5_local_supplier", "q6_forecast_revenue", "q9_product_profit",
    "q10_returned_item", "q13_cust_dist", "q17_small_qty_revenue",
    "q18_large_orders", "q20_potential_promotion", "q21_waiting_supplier",
    "j1_left_join_agg", "j11_range_join", "j14_dpp_join", "w1_topk_per_group",
    "t7_daily_window", "t8_sessionize", "t9_asof_join", "t12_hopping_window",
    "a42_hll", "dd_exact", "g_degrees", "dq_expectations")
}
