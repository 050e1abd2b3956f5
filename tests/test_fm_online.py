"""Online FM training: per-micro-batch SGD steps."""

import pytest
from pyspark.sql import functions as F

from fmx.fm import FMRegressorSGD
from fmx.fm.online import OnlineFMTrainer


def test_online_steps_reduce_loss(spark):
    """Feeding the same distribution repeatedly through _sgd_step (the
    foreachBatch unit) must reduce loss across steps."""
    from tests.test_fm_sgd import synthetic_fm_data

    df = synthetic_fm_data(spark, n=150, seed=31).cache()
    est = FMRegressorSGD(dimFactorization=3, regParam=0.0, stepSize=0.5,
                         seed=5, fitIntercept=True)
    trainer = OnlineFMTrainer(estimator=est)
    for i in range(3):
        trainer.process_batch(df, i)
    assert len(trainer.losses) == 3
    assert trainer.losses[-1] < trainer.losses[0]
    model = trainer.model()
    out = model.transform(df)
    assert out.count() == 150


def test_online_empty_micro_batch_is_a_no_op(spark):
    """An empty micro-batch records no step, no loss and no params."""
    est = FMRegressorSGD(dimFactorization=2, seed=5)
    trainer = OnlineFMTrainer(estimator=est)
    empty = spark.createDataFrame([], "features array<double>, label double")
    trainer.process_batch(empty, 0)
    assert trainer.step_count == 0
    assert trainer.losses == []
    assert trainer.params is None
    assert trainer.w0 == 0.0


def test_batch_without_active_features_is_a_zero_loss_step(spark):
    """A batch whose samples all lack active features forwards no rows:
    it is still a step (L1 shrinkage applies), with loss 0 and no w0
    move — online after a first micro-batch, and in a vector fit whose
    every sample is empty."""
    from pyspark.ml.linalg import Vectors

    full = spark.createDataFrame([(Vectors.dense([1.0, 0.5]), 1.0)] * 3,
                                 ["features", "label"])
    empty = spark.createDataFrame([(Vectors.sparse(2, []), 2.0)] * 2,
                                  ["features", "label"])
    trainer = OnlineFMTrainer(estimator=FMRegressorSGD(
        dimFactorization=2, seed=3, fitIntercept=True))
    trainer.process_batch(full, 0)
    w0 = trainer.w0
    trainer.process_batch(empty, 1)
    assert trainer.step_count == 2
    assert trainer.losses[1] == 0.0 and trainer.w0 == w0
    assert trainer.params.count() == 2

    est = FMRegressorSGD(dimFactorization=2, maxIter=1,
                         miniBatchFraction=1.0, seed=3, fitIntercept=True)
    model = est.fit(empty)
    assert est.training_loss_ == [0.0]
    assert model.global_bias == 0.0 and model.strength.count() == 0


def test_online_training_through_real_stream(spark, sf_dir):
    """The trainer attached to an actual file stream learns a constant
    target through the streaming machinery."""
    from fmx.streaming.ops import read_events_stream

    est = FMRegressorSGD(dimFactorization=2, regParam=0.0, stepSize=1.0,
                         seed=7, fitIntercept=True,
                         minLabel=0.0, maxLabel=1.0)
    trainer = OnlineFMTrainer(estimator=est)
    stream = read_events_stream(spark, sf_dir)
    feats = stream.select(
        F.array((F.col("value") / 100.0), F.lit(0.5)).alias("features"),
        F.lit(0.7).cast("double").alias("label"))
    q = trainer.train(feats)
    q.awaitTermination(120)
    q.stop()
    assert trainer.step_count >= 1
    assert trainer.losses
    # one fitIntercept step on constant labels moves w0 toward 0.7
    assert 0.0 < trainer.w0 <= 0.9
    model = trainer.model()
    probe = spark.createDataFrame([([0.1, 0.5],)], "features array<double>")
    p = model.transform(probe).first().prediction
    assert p == pytest.approx(trainer.w0, abs=0.5)
