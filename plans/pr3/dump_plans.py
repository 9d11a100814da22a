"""Print the executed plans of ``ranked_related_all`` and
``evidence_export_all`` over the perfbench ``query`` inputs (tiny size),
with expression ids, RDD ids and scratch paths masked, so plans from two
checkouts can be diffed.

    python3 plans/pr3/dump_plans.py <checkout> <out_dir>
"""

import os
import re
import sys
import tempfile

root, out_dir = os.path.abspath(sys.argv[1]), sys.argv[2]
sys.path.insert(0, root)
os.chdir(root)

from kgcompass_spark.plans.evidence import evidence_export_all  # noqa: E402
from kgcompass_spark.plans.related import ranked_related_all  # noqa: E402
from kgcompass_spark.session import get_spark  # noqa: E402
from perfbench.workloads import SIZES, Query  # noqa: E402


def executed(df, work):
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.replace(work, "<work>")
    text = re.sub(r"#\d+L?", "#N", text)
    text = re.sub(r"(ExistingRDD|MapPartitionsRDD|RDD)\[\d+\]", r"\1[N]", text)
    return re.sub(r"plan_id=\d+", "plan_id=N", text)


spark = get_spark("plans-pr3", cores=2, shuffle_partitions=4)
with tempfile.TemporaryDirectory() as work:
    q = Query(spark, work, seed=1, size=SIZES["tiny"])
    q.setup()
    plans = {
        "ranked_related_all": ranked_related_all(q.kg, q.entities, q.texts),
        "evidence_export_all": evidence_export_all(
            q.kg, q.roots, entities=q.entities, issue_texts=q.texts
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, df in plans.items():
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(executed(df, work))
spark.stop()
