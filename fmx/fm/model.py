"""Factorization Machines model — parameters-as-DataFrames, predict as a
relational dataflow.

Reference parity: fm_spark ``FactorizationMachinesModel``
(FactorizationMachinesModel.scala:43-273).  The model weights ARE
distributed tables (SURVEY.md §1.1):

- ``strength``: DataFrame ``(featureId bigint, strength double)`` — w_i
  (reference ``Dataset[Strength]``, Model.scala:281)
- ``factors``:  DataFrame ``(featureId bigint, vec array<double>)`` — v_i
  (reference ``Dataset[FactorizedInteraction]``, Model.scala:289)
- ``global_bias``: python float — w0 (Model.scala:45)

ŷ(x) = w0 + Σ_i w_i·x_i + ½·Σ_f [(Σ_i v_if·x_i)² − Σ_i v_if²·x_i²]

Spark-first design notes (vs the reference's shape):

- The reference computes the per-sample summed vector with a custom
  ``VectorSum`` UDAF (Model.scala:122) and squares it in a UDF
  (``sumVx``, Model.scala:260-262).  Here predict and ``calc_loss_grad``
  share the one forward kernel ``dataflow.forward_wide``: the k
  per-factor sums Σ_i v_if·x_i ride the same per-sample hash aggregate
  as the linear terms (k is a model constant), so a prediction costs
  one exchange and everything stays in whole-stage codegen.
- Inner joins drop unlearned featureIds (Model.scala:103-112 semantics,
  golden-tested); samples with no active features get no prediction row
  and fall back to ``global_bias`` via left join + na.fill
  (Model.scala:78-86).
- Clamping divergence: the reference declares minLabel/maxLabel defaults
  of 0.0/1.0 (Model.scala:59-60) yet its own golden test expects
  unclamped 23.77 (Suite:65).  We resolve the contradiction by making
  clamping opt-in (None = no clamp); ``FMRegressorSGD`` sets the bounds
  explicitly.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import HasFeaturesCol, HasLabelCol, HasPredictionCol
from pyspark.ml.util import (
    DefaultParamsReader, DefaultParamsWriter, MLReadable, MLReader,
    MLWritable, MLWriter,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fmx.core import linalg as L
from fmx.fm import dataflow as DF

__all__ = ["FMModel", "FMParamsBase"]


class FMModelWriter(MLWriter):
    """pyspark.ml-native writer: params via DefaultParamsWriter metadata
    (so Pipeline/CrossValidatorModel persistence recognizes the stage),
    the distributed param tables as parquet subdirs."""

    def __init__(self, instance: "FMModel"):
        super().__init__()
        self.instance = instance

    def saveImpl(self, path: str) -> None:
        m = self.instance
        extra = {"dim_factorization": m.dim_factorization,
                 "global_bias": m.global_bias,
                 **m._extra_metadata()}
        DefaultParamsWriter.saveMetadata(m, path, self.sc,
                                         extraMetadata=extra)
        m.strength.write.mode("overwrite").parquet(f"{path}/strength")
        m.factors.write.mode("overwrite").parquet(f"{path}/factors")


class FMModelReader(MLReader):
    def __init__(self, cls):
        super().__init__()
        self._cls = cls

    def load(self, path: str) -> "FMModel":
        metadata = DefaultParamsReader.loadMetadata(path, self.sc)
        spark = SparkSession.builder.getOrCreate()
        extra = metadata  # extraMetadata merges into the top level
        model = self._cls(
            dim_factorization=int(extra["dim_factorization"]),
            global_bias=float(extra["global_bias"]),
            strength=spark.read.parquet(f"{path}/strength"),
            factors=spark.read.parquet(f"{path}/factors"))
        model._restore_extra_metadata(extra)
        DefaultParamsReader.getAndSetParams(model, metadata)
        model._resetUid(metadata["uid"])
        return model


class FMParamsBase(HasFeaturesCol, HasPredictionCol, HasLabelCol):
    """Shared params (reference FactorizationMachinesModelParams,
    Model.scala:19-33 + FactorizationMachines.scala:14-31)."""

    sampleIdCol = Param(
        Params._dummy(), "sampleIdCol", "Column name for sample ID",
        typeConverter=TypeConverters.toString)
    minLabel = Param(
        Params._dummy(), "minLabel", "Minimum label value (clamp); None disables",
        typeConverter=TypeConverters.toFloat)
    maxLabel = Param(
        Params._dummy(), "maxLabel", "Maximum label value (clamp); None disables",
        typeConverter=TypeConverters.toFloat)

    def getSampleIdCol(self) -> str:
        return self.getOrDefault(self.sampleIdCol)

    def getMinLabel(self):
        return self.getOrDefault(self.minLabel) if self.isDefined(self.minLabel) else None

    def getMaxLabel(self):
        return self.getOrDefault(self.maxLabel) if self.isDefined(self.maxLabel) else None


class FMModel(Model, FMParamsBase, MLWritable, MLReadable):
    """Trained FM model; ``transform`` appends a prediction column."""

    @keyword_only
    def __init__(self, dim_factorization: int = 10, global_bias: float = 0.0,
                 strength: DataFrame | None = None,
                 factors: DataFrame | None = None):
        super().__init__()
        self.dim_factorization = int(dim_factorization)
        self.global_bias = float(global_bias)
        self.strength = strength
        self.factors = factors
        self._setDefault(featuresCol="features", predictionCol="prediction",
                         labelCol="label", sampleIdCol="sampleId")

    # -- param setters ------------------------------------------------
    def setFeaturesCol(self, v):
        return self._set(featuresCol=v)

    def setPredictionCol(self, v):
        return self._set(predictionCol=v)

    def setSampleIdCol(self, v):
        return self._set(sampleIdCol=v)

    def setMinLabel(self, v):
        return self._set(minLabel=float(v))

    def setMaxLabel(self, v):
        return self._set(maxLabel=float(v))

    def copy(self, extra=None):
        new = type(self)(
            dim_factorization=self.dim_factorization,
            global_bias=self.global_bias,
            strength=self.strength,
            factors=self.factors,
        )
        new._restore_extra_metadata(self._extra_metadata())
        new = self._copyValues(new, extra)
        new._resetUid(self.uid)
        return new

    # -- dataflow ------------------------------------------------------

    def predict_exploded(self, exploded: DataFrame,
                         sample_id: str = "sampleId") -> DataFrame:
        """Predict from long format ``(sample_id, featureId, featureValue)``.

        Relational plan (reference Model.scala:90-133, re-shaped):
        inner-join params (``DF.join_params``) → ``DF.forward_wide``'s
        ONE per-sample hash-agg → clamp.  The factor-sum array ``s`` it
        also yields is pruned from this projection by Catalyst."""
        rows = DF.join_params(exploded, self.strength, self.factors,
                              how="inner")
        fwd = DF.forward_wide(rows, self.global_bias, self.dim_factorization,
                              sample_id=sample_id)
        return self._clamp(fwd.select(
            sample_id, F.col("pred").alias(self.getPredictionCol())))

    def _clamp(self, pred: DataFrame) -> DataFrame:
        p = self.getPredictionCol()
        lo, hi = self.getMinLabel(), self.getMaxLabel()
        c = F.col(p)
        if lo is not None:
            c = F.greatest(c, F.lit(float(lo)))
        if hi is not None:
            c = F.least(c, F.lit(float(hi)))
        return pred.withColumn(p, c)

    def calc_loss_grad(self, dataset: DataFrame, initial_sd: float = 0.01,
                       seed: int = 1234) -> DataFrame:
        """Per-(sample, feature) loss/gradient relation — reference parity
        API (FactorizationMachinesModel.calcLossGrad, Model.scala:135-234).

        Returns (label, sampleId, featureId, prediction, loss, deltaWi,
        deltaVi) at the reference's grain: deltaWi = x_i and deltaVi =
        x_i·(Σ_j v_jf·x_j) − v_if·x_i² are *unscaled* by the error (the
        SGD loop applies (ŷ−y)).  Unseen features get seeded N(0, sd²)
        forward values; predictions are unclamped (training semantics).
        """
        if initial_sd <= 0.0:
            raise ValueError("initial_sd must be > 0.0")
        sid, label = self.getSampleIdCol(), self.getLabelCol()
        # cache: the plan fans into two branches (forward, row
        # gradients) re-joined on this id — monotonically_increasing_id
        # is partition-layout-dependent, so without a cache the branches
        # could disagree under AQE / re-listing (reference caches
        # dfSampleIndexed, Model.scala:74)
        indexed, _ = self._index_dataset(dataset)
        ex = L.explode_vector(indexed, self.getFeaturesCol(),
                              id_cols=[sid, label])
        rows = DF.join_params(ex, self.strength, self.factors, how="left",
                              k=self.dim_factorization, sd=float(initial_sd),
                              seed=seed)
        fwd = DF.forward_wide(rows, self.global_bias, self.dim_factorization,
                              label_col=label, sample_id=sid)
        return (DF.row_gradients(rows, fwd, self.dim_factorization,
                                 sample_id=sid)
                .select(label, sid, "featureId",
                        F.col("pred").alias(self.getPredictionCol()),
                        (F.col("err") * F.col("err")).alias("loss"),
                        F.col("x").alias("deltaWi"), "deltaVi"))

    # -- persistence (reference M6/M7 surface: pyspark.ml-native, so
    # Pipeline([...]).save and CrossValidatorModel.save round-trip a
    # pipeline containing this model —
    # FactorizationMachinesSample.scala:50-63) ------------------------

    def _extra_metadata(self) -> dict:
        """Subclass hook: extra scalar metadata persisted beside the
        params (FMClassifierModel adds its threshold)."""
        return {}

    def _restore_extra_metadata(self, extra: dict) -> None:
        pass

    def write(self) -> FMModelWriter:
        return FMModelWriter(self)

    @classmethod
    def read(cls) -> FMModelReader:
        return FMModelReader(cls)

    def save(self, path: str) -> None:
        """Persist param tables as parquet + params as pyspark.ml
        metadata (overwrite semantics, matching the round-1 API)."""
        self.write().overwrite().save(path)

    @classmethod
    def load(cls, *args) -> "FMModel":
        """``load(path)`` (MLReadable contract) or ``load(spark, path)``
        (round-1 API; the session arg is accepted for compatibility)."""
        path = args[-1]
        return cls.read().load(path)

    def _validate_schema(self, dataset: DataFrame) -> None:
        """Schema validation (reference validateAndTransformSchema /
        transformSchema, FactorizationMachines.scala:33-37,
        Model.scala:237-240) with actionable errors."""
        fcol = self.getFeaturesCol()
        dtype = dict(dataset.dtypes).get(fcol)
        if dtype is None:
            raise ValueError(
                f"features column '{fcol}' not found; dataset has "
                f"{dataset.columns}. Set featuresCol to the right name.")
        if dtype not in ("vector", "array<double>", "array<float>"):
            raise TypeError(
                f"features column '{fcol}' must be a ml.linalg Vector or "
                f"array<double>/array<float>, got {dtype}")
        if self.getPredictionCol() in dataset.columns:
            raise ValueError(
                f"output column '{self.getPredictionCol()}' already exists")

    def _index_dataset(self, dataset: DataFrame) -> tuple[DataFrame, bool]:
        """Attach the synthetic sample id (cached so every plan branch
        sees the same partition-layout-dependent ids), releasing the
        PREVIOUS call's cache: repeated scoring on datasets without a
        stable sampleIdCol holds at most one cached DataFrame per model
        instead of leaking one per transform() (r02 ADVICE #5).  The
        returned plan still references the new cache, so it cannot be
        unpersisted any earlier than the next call; callers that score
        in a tight loop should supply a stable sampleIdCol."""
        sid = self.getSampleIdCol()
        if sid in dataset.columns:
            # user-supplied stable key: no synthetic id, no cache needed
            # (and the user's column is preserved in the output)
            return dataset, False
        indexed = dataset.withColumn(
            sid, F.monotonically_increasing_id()).cache()
        prev = getattr(self, "_cached_indexed", None)
        if prev is not None:
            prev.unpersist()
        self._cached_indexed = indexed
        return indexed, True

    def _transform(self, dataset: DataFrame) -> DataFrame:
        self._validate_schema(dataset)
        sid = self.getSampleIdCol()
        indexed, synthetic = self._index_dataset(dataset)
        exploded = L.explode_vector(indexed, self.getFeaturesCol(), id_cols=[sid])
        pred = self.predict_exploded(exploded, sample_id=sid)
        out = indexed.join(pred, sid, "left")
        if synthetic:
            out = out.drop(sid)
        # empty feature vectors -> no exploded rows -> no prediction
        # row -> fall back to global bias (Model.scala:86, golden 5.0)
        return out.na.fill({self.getPredictionCol(): self.global_bias})
