"""Online FM training on Structured Streams.

Each micro-batch becomes one mini-batch SGD step (``foreachBatch`` +
``FMRegressorSGD._sgd_step``): the model's parameter tables are updated
incrementally as data arrives — continuous training without a separate
batch pipeline.  State = the param DataFrame itself: each step ends in
an eager ``localCheckpoint``, so lineage stays flat across an unbounded
stream and no step reads an earlier micro-batch's source again.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fmx.core import linalg as L
from fmx.fm.model import FMModel
from fmx.fm.sgd import FMRegressorSGD

__all__ = ["OnlineFMTrainer"]


@dataclass
class OnlineFMTrainer:
    """Holds the evolving parameters and applies one SGD step per
    micro-batch.  ``estimator`` supplies all hyperparameters (stepSize
    decays with the global step count)."""

    estimator: FMRegressorSGD
    params: DataFrame | None = None      # merged (featureId, strength, vec)
    w0: float = 0.0
    step_count: int = 0
    losses: list[float] = field(default_factory=list)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink: one SGD step on this micro-batch.  Expects
        the estimator's featuresCol + labelCol on ``batch_df``."""
        est = self.estimator
        sid, label = est.getSampleIdCol(), est.getLabelCol()
        prepped = (batch_df
                   .select(F.col(label).cast("double").alias(label),
                           F.col(est.getFeaturesCol()).alias("__features__"))
                   .withColumn(sid, F.monotonically_increasing_id())
                   .cache())
        # ONE read of the micro-batch source: the count materializes the
        # cache and is the step's gradient divisor (samples without an
        # active feature included, as in batch fitting)
        n = prepped.count()
        if n == 0:
            prepped.unpersist()
            return
        exploded = L.explode_vector(prepped, "__features__",
                                    id_cols=[sid, label])
        if self.params is None:
            self.params = est._initial_params(
                exploded, est.getDimFactorization(),
                float(est.getInitialSd()), est.getOrDefault(est.seed))
        self.step_count += 1
        # the step's checkpoint materializes before this micro-batch's
        # cache is dropped, so a non-replayable source is read once
        self.params, self.w0, loss = est._sgd_step(
            self.params, self.w0, exploded, n, self.step_count)
        self.losses.append(loss)
        prepped.unpersist()

    def train(self, stream: DataFrame, checkpoint: str | None = None,
              available_now: bool = True):
        """Attach the trainer to a stream; returns the StreamingQuery."""
        writer = stream.writeStream.foreachBatch(self.process_batch)
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def model(self) -> FMModel:
        if self.params is None:
            raise RuntimeError("no data processed yet")
        est = self.estimator
        m = FMModel(dim_factorization=est.getDimFactorization(),
                    global_bias=self.w0,
                    strength=self.params.select("featureId", "strength"),
                    factors=self.params.select("featureId", "vec"))
        est._copyValues(m)
        return m
