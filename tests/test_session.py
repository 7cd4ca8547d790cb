"""The JVM policy ``session.get_spark`` starts every session with: HotSpot's
raised tier-4 (C2) thresholds, and a codegen cache sized to the working set
of a change night."""

from __future__ import annotations

import os
import sys

from healthcare_rcm_etl_pipeline_spark.plans.pipeline import run_pipeline

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rcmbench.counters import SparkCounters  # noqa: E402
from rcmbench.gen import HospitalSources  # noqa: E402


def test_driver_jvm_keeps_c2_with_raised_tier4_thresholds(spark):
    """C2 stays on: C1 only (-XX:TieredStopAtLevel=1) burned the least CPU
    on a cold night but made a hot executor loop 13x slower."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(mx.getInputArguments())
    for flag in ("-XX:Tier4InvocationThreshold=50000",
                 "-XX:Tier4CompileThreshold=150000",
                 "-XX:Tier4BackEdgeThreshold=400000"):
        assert flag in args, args
    assert not any("TieredStopAtLevel" in a for a in args), args


def test_second_identical_change_night_compiles_no_classes(spark, tmp_path):
    """At Spark's default cache size (100 entries) a repeated night
    recompiled all of its ~260 generated classes."""
    counters = SparkCounters(spark)
    compiles = []
    for night in ("a", "b"):
        src = HospitalSources(5, 0.02)
        stage, root = str(tmp_path / night / "staging"), str(tmp_path / night / "reference")
        src.write_staged_dim_patients(stage, "2025-08-01")
        src.advance()
        src.write(root)
        before = counters.codegen_compiles()
        run_pipeline(spark, reference_root=root, staging_dir=stage, run_date="2025-08-02")
        compiles.append(counters.codegen_compiles() - before)
    assert compiles[0] > 0 and compiles[1] == 0, compiles
