"""Plan audit: dump .explain('formatted') for every pipeline stage and the
key entry queries to PLANS.md, and grep for the properties we require —
pushed filters, pruned schemas, broadcast/codegen spans, no cartesian
products. Run after plan-affecting changes.

Walks the pipeline's stage graph (sketches → shingle_counts → candidates →
pair_shingles → scored → gated → rescored → verified → clusters →
survivors) with a materializer that records each stage's plan and then
checkpoints it. The CC stage is iterative (plan depends on convergence), so
the audit captures its post-CC label-join plan.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from sylph_spark import fixtures
from sylph_spark.config import SketchConfig
from sylph_spark.pipeline import STAGES, DedupPipeline, images_df_from_pandas
from sylph_spark.session import build_spark


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    spark = build_spark("plans", master="local[8]", shuffle_partitions=8)
    images, _ = fixtures.generate_corpus(60, 42)
    p = DedupPipeline(spark, SketchConfig())
    plans = {}

    def explain_then_checkpoint(node, build):
        out = build()
        if node.mode == "count":
            return out.count()
        plans[node.name] = explain_str(out)
        return out.localCheckpoint()

    p.run_graph(images_df_from_pandas(spark, images), explain_then_checkpoint)
    sections = {f"stage{i + 1}_{s}": plans[s] for i, s in enumerate(STAGES)}

    import __spark_entry__ as E

    for q in ["j1_containment", "e1_ratio_lambda", "dd_ngram_jaccard", "emb_knn"]:
        sections[f"query_{q}"] = explain_str(
            E.queries()[q](spark, "/root/testdata/sf0.001")
        )

    with open("PLANS.md", "w") as f:
        f.write("# Physical plan audit (generated by scripts/explain_plans.py)\n")
        for name, text in sections.items():
            f.write(f"\n## {name}\n\n```\n{text}\n```\n")

    issues = []
    for name, text in sections.items():
        if "CartesianProduct" in text:
            issues.append(f"{name}: CartesianProduct!")
    all_text = "\n".join(sections.values())
    # AQE plans print isFinalPlan=false pre-execution, so codegen ids only
    # appear on non-adaptive subtrees here; runtime plans fuse more.
    print(
        "codegen spans:",
        all_text.count("WholeStageCodegen") + all_text.count("codegen id"),
    )
    print("BroadcastHashJoin:", all_text.count("BroadcastHashJoin"))
    print("SortMergeJoin:", all_text.count("SortMergeJoin"))
    print("CartesianProduct:", all_text.count("CartesianProduct"))
    print("PLANS.md written.", "ISSUES:" if issues else "no issues")
    for i in issues:
        print(" -", i)
    spark.stop()


if __name__ == "__main__":
    main()
