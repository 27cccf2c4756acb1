"""Sessions outside the checkout: ``get_spark`` takes its core count from
the process's CPU affinity, and package code reaches Python workers by
value, whatever the caller's working directory or session."""

from __future__ import annotations

import os
import subprocess
import sys

from classification_problem_with_pyspark_spark import session
from tests.conftest import SF_DIR_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
# keys whose plan build or run unpickles package code in a Python worker
WORKER_KEYS = [
    "emb_ivf_cell_balance",
    "emb_matryoshka_eval",
    "emb_mutual_knn_pairs",
    "emb_pq_codebook_assign",
    "emb_srp_signature",
    "llm_similarity_topk",
    "llm_similarity_topk_sharded",
    "multimodal_bmp_decode",
    "multimodal_png_decode",
    "multimodal_wav_decode",
    "multimodal_decode_stub",
    "multimodal_frame_sample",
    "source_python_datasource",
    "udtf_group_normalize",
]


def _env(**extra: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")}
    return {**env, **extra}


def test_default_cpus_is_the_affinity_count(tmp_path):
    code = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from classification_problem_with_pyspark_spark.session import DEFAULT_CPUS\n"
        "print(DEFAULT_CPUS)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=_env(), capture_output=True,
        text=True, check=True, timeout=120,
    )
    assert int(out.stdout) == len(os.sched_getaffinity(0))


def _run_worker_keys(tmp_path, session: str) -> None:
    """Run every WORKER_KEYS key from ``tmp_path`` on the session that the
    expression ``session`` builds; the checkout is on the driver's
    ``sys.path`` only, never the workers'."""
    code = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules\n"
        "from classification_problem_with_pyspark_spark.session import get_spark\n"
        "load_all_modules()\n"
        f"spark = {session}\n"
        f"for key in {WORKER_KEYS!r}:\n"
        f"    assert QUERIES[key].fn(spark, {SF_DIR_SMOKE!r}).collect(), key\n"
        "spark.stop()\n"
    )
    env = _env(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env, check=True, timeout=600)


def test_worker_keys_run_from_another_directory(tmp_path):
    _run_worker_keys(tmp_path, "get_spark(shuffle_partitions=4)")


def test_worker_keys_run_on_a_vanilla_session(tmp_path):
    # a caller's own session, none of get_spark's configs
    _run_worker_keys(
        tmp_path,
        "SparkSession.builder.master('local[2]').config('spark.driver.memory', '1g')"
        ".config('spark.sql.shuffle.partitions', '4').getOrCreate()",
    )
