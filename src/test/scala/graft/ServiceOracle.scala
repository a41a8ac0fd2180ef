package graft

import graft.shacl.ValidationResult
import org.apache.spark.sql.DataFrame

/** The service's former per-shape response renderer: every shape runs its
  * own counts, `isEmpty` and `orderBy("focus").limit` collects. Kept as the
  * reference the one-action renderer in [[Service]] must match byte for
  * byte. It renders from a given result and leaves releasing it to the
  * caller, so one validation serves every `maxInstances` and both formats;
  * the HTML header's seconds are reported as 0.0. */
object ServiceOracle {

  def json(result: ValidationResult, maxInstances: Int): String = {
    val shapes = result.verdicts.toSeq.sortBy(_._1).map { case (id, v) =>
      def list(df: DataFrame): String =
        df.orderBy("focus").limit(maxInstances).collect()
          .map(r => "\"" + Service.jsonEscape(r.getString(0)) + "\"").mkString("[", ",", "]")
      val valid = v.validFinal.count()
      val violated = v.invalid.count()
      s"""    "${Service.jsonEscape(id)}": {
         |      "targets": ${valid + violated},
         |      "valid": $valid,
         |      "violated": $violated,
         |      "valid_instances": ${list(v.validFinal)},
         |      "invalid_instances": ${list(v.invalid)}
         |    }""".stripMargin
    }
    val conforms = result.verdicts.values.forall(_.invalid.isEmpty)
    s"""{
       |  "conforms": $conforms,
       |  "node_order": [${result.nodeOrder.map(n => "\"" + Service.jsonEscape(n) + "\"").mkString(",")}],
       |  "shapes": {
       |${shapes.mkString(",\n")}
       |  }
       |}""".stripMargin
  }

  def html(result: ValidationResult, maxInstances: Int): String = {
    val rows = new StringBuilder
    var n = 0
    result.verdicts.toSeq.sortBy(_._1).foreach { case (id, v) =>
      def emit(df: DataFrame, verdict: String, color: String): Unit =
        df.orderBy("focus").limit(maxInstances).collect().foreach { r =>
          n += 1
          val inst = Service.htmlEscape(r.getString(0))
          val shape = Service.htmlEscape(id.stripPrefix("<").stripSuffix(">"))
          rows ++= s"""<tr><td>$inst</td><td>$shape</td><td style="color: $color">$verdict</td><td>$shape</td></tr>"""
        }
      emit(v.validFinal, "valid", "green")
      emit(v.invalid, "invalid", "red")
    }
    val header = Seq("instance", "shape", "validation result", "finished@shape")
      .map(h => s"<th>$h</th>").mkString
    s"""<div>graft (Trav-SHACL semantics) returned $n validation results in 0.0 seconds.<br><br>""" +
      """<table border="0px" style="border-spacing: 10px; margin-left: auto; margin-right: auto;">""" +
      s"<tr>$header</tr>$rows</table></div>"
  }
}
