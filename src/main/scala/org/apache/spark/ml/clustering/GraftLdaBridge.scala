package org.apache.spark.ml.clustering

import org.apache.spark.ml.param.ParamMap
import org.apache.spark.mllib.clustering.{LocalLDAModel => OldLocalLDAModel}
import org.apache.spark.sql.SparkSession

/** Bridge into `LocalLDAModel`'s `private[ml]` constructor, so that
  * `graft.ml.Lda` can fit with its own loop and still return the model
  * `LDA.fit` returns. */
object GraftLdaBridge {
  /** The model `LDA.fit` builds: the estimator's uid, its explicitly set
    * params copied (defaults stay defaults), the estimator as parent. */
  def localModel(lda: LDA, vocabSize: Int, old: OldLocalLDAModel,
      spark: SparkSession): LocalLDAModel = {
    val set = lda.extractParamMap().toSeq.filter(p => lda.isSet(p.param))
    val model = new LocalLDAModel(lda.uid, vocabSize, old, spark).copy(ParamMap(set: _*))
    model.setParent(lda)
    model
  }
}
