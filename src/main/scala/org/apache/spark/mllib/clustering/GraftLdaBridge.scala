package org.apache.spark.mllib.clustering

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV, Vector => BV}
import org.apache.spark.mllib.linalg.{Matrices, Vector}

/** Bridge into MLlib's `private[clustering]` online-VB kernels, so that
  * `graft.ml.Lda` can run the optimizer's loop itself (one Spark job per
  * iteration) while every per-document E-step and every Dirichlet
  * expectation stays MLlib's own code. */
object GraftLdaBridge {
  /** The per-document variational E-step: (gamma_d, sufficient statistics
    * k × ids.size, term ids). */
  def variationalTopicInference(termCounts: Vector, expElogbeta: BDM[Double],
      alpha: BV[Double], gammaShape: Double, k: Int,
      seed: Long): (BDV[Double], BDM[Double], List[Int]) =
    OnlineLDAOptimizer.variationalTopicInference(
      termCounts, expElogbeta, alpha, gammaShape, k, seed)

  def dirichletExpectation(alpha: BDM[Double]): BDM[Double] =
    LDAUtils.dirichletExpectation(alpha)

  def dirichletExpectation(alpha: BDV[Double]): BDV[Double] =
    LDAUtils.dirichletExpectation(alpha)

  /** The fitted model, as `OnlineLDAOptimizer.getLDAModel` builds it from
    * the k × V variational parameters lambda. */
  def localModel(lambda: BDM[Double], alpha: Vector, eta: Double,
      gammaShape: Double, seed: Long): LocalLDAModel =
    new LocalLDAModel(Matrices.fromBreeze(lambda).transpose, alpha, eta, gammaShape)
      .setSeed(seed)
}
