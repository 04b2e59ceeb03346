package graft.util

/** The correctness-gate switch. `graft.Verify` sets the `graft.selfcheck`
  * system property (local opt-in: `-Dgraft.selfcheck=1`); this is the one
  * place that reads it. Under it the routed==exact requires on
  * sub-exhaustive index queries run, because they are what license the
  * exact SQL as those queries' oracle; Bench times the pure routed plan
  * (the cost a user's query pays, not routed + exact). Index coverage,
  * z-order domain and quantile-regime checks follow the same switch. */
private[graft] object SelfCheck {
  def enabled: Boolean = sys.props.get("graft.selfcheck").contains("1")
}
