package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** The graded entry points: the flagship query and the query and oracle
  * registries (SURVEY.md §7). */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    JoinQueries.joinStar(spark, "/root/testdata/sf0.001")
  // One explicitly typed Seq: a 100+-term `++` expression's left-deep
  // operator tree blew scalac's typer stack past ~115 families, and
  // the type spares scalac a 174-way lub of the family objects.
  private[graft] val families: Seq[QueryFamily] = Seq(
    AggQueries, JoinQueries, ScanQueries, SortSetQueries, WindowQueries,
    ScalarQueries, SemiStructQueries, TextQueries, SimQueries, UdxQueries,
    DedupQueries, TextAnalysisQueries, CapabilityQueries, RelExtraQueries,
    MoreRelQueries, PipelineQueries, WideSurfaceQueries, StatsMlQueries,
    FunctionalQueries, CorpusSimQueries, IrGraphQueries, RobustQueries,
    MlEvalQueries, GraphQueries, BizSeriesQueries, LlmPipeQueries,
    AnalyticsExtraQueries, GovernanceQueries, DriftQueries,
    EncodingSeqQueries, CalendarPathQueries, BinaryArrayQueries,
    RobustStatsQueries, AttributionQueries, TwapGroupingQueries,
    SourceTermQueries, DistributionQueries, InferenceQueries,
    ChurnZipfQueries, HitsFunnelQueries, BasketQueries, OrderStatsQueries,
    InfoStatsQueries, MixSampleQueries, IntervalQueries, EvalExtraQueries,
    CleanTextQueries, StatEngQueries, SeasonalQueries, OverlapSeriesQueries,
    SeqEconQueries, RiskStatsQueries, ExperimentQueries, VectorStatsQueries,
    TemporalRelQueries, NonParamQueries, DerivedAnalyticsQueries,
    StatTestQueries, EmbOpsQueries, SketchExactQueries, GraphFeatureQueries,
    ForecastQueries, HygieneQueries, RetrievalQueries, SeriesShapeQueries,
    TextExtraQueries, FeatureEngQueries, PathAgreementQueries,
    CorpusDriftQueries, MonitorQueries, NormalityQueries,
    FilterFunnelQueries, ProcessMiningQueries, KmeansStepQueries,
    SqlSurfaceQueries, DedupLshQueries, ProductAnalyticsQueries,
    DispersionQueries, StratifiedQueries, RakingQueries, ClusterEvalQueries,
    MlEvalExtraQueries, ExactHllQueries, GeoCellQueries, CdcMergeQueries,
    ShapleyQueries, RankTestQueries, SeriesDiagQueries, MultivarQueries,
    ClassMetricsQueries, EncodingEconQueries, TextGraphQueries,
    VarTestQueries, TpchQueries, PairedTestQueries, ReliabilityQueries,
    DiversityRetrievalQueries, TopKAggQueries, MatchedRanksQueries,
    ExtremesQueries, PriceIndexQueries, SeqPatternQueries, LlmExtraQueries,
    InferExtraQueries, GraphDistQueries, UncertaintyEconQueries,
    CountDispersionQueries, EvennessQueries, TpchExtraQueries,
    InventoryEconQueries, GraphShapeQueries, TailRiskQueries,
    InequalityQueries, LexicalRichnessQueries, FairnessQueries,
    InferTrendQueries, ForecastExtraQueries, HurstQueries, MmrQueries,
    IsotonicQueries, CentralityQueries, VocabOverlapQueries, LogrankQueries,
    OrderedAltQueries, InfluenceQueries, GrowthAcctQueries, BassQueries,
    TpchMoreQueries, EmbOutlierQueries, SpcQueries, SeasonalTrendQueries,
    VocabCoverageQueries, RobustSeqQueries, ImpactGovQueries,
    HistAggQueries, TpchFinalQueries, AgreementExtraQueries,
    OrdinalAssocQueries, ThresholdQueries, KernelQueries,
    EconometricsQueries, SurvivalExtraQueries, RetrievalLmQueries,
    CorpusDispersionQueries, FsLinkageQueries, FinanceExtraQueries,
    WinnowQueries, StrataTestQueries, InferMoreQueries, ConformalQueries,
    VocabEstimatorQueries, LearningCurveQueries, TwoWayAnovaQueries,
    SegmentedFitQueries, RankDistQueries, PeriodogramQueries,
    StylometryQueries, LofQueries, ScaleLawQueries, RobustFitQueries,
    InfoFlowQueries, EmbAggQueries, MixtureQueries, FeatureSelectQueries,
    ImputeQueries, MatrixProfileQueries, OpsPlanQueries, AnnEvalQueries,
    FitExtraQueries, SmoothingLmQueries, CausalDesignQueries, SesEsdQueries,
    SurvivalCoxQueries, FitDistSurvQueries)
  private val (registry, oracles) = merge(families)
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = registry
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracles

  /** The families' queries and oracle SQL as one map each. A query name
    * declared by two families is an error naming both, never a silent
    * overwrite. */
  private[graft] def merge(families: Seq[QueryFamily])
      : (Map[String, (SparkSession, String) => DataFrame], Map[String, String]) = {
    val owners = families.flatMap(f =>
      f.queries.keys.map(_ -> f.getClass.getSimpleName.stripSuffix("$")))
    val clashes = owners.groupBy(_._1).collect { case (q, fs) if fs.size > 1 =>
      s"query $q is declared by ${fs.map(_._2).mkString(" and ")}"
    }
    require(clashes.isEmpty, clashes.toSeq.sorted.mkString("; "))
    (families.flatMap(_.queries).toMap, families.flatMap(_.oracle).toMap)
  }
}
