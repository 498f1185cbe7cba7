"""get_spark's driver JVM profile: the tiered-JIT flags reach the JVM,
and a caller's own ``spark.driver.extraJavaOptions`` is kept and wins;
the default heap is sized from the host's memory."""

from __future__ import annotations

from tia_data_pipeline_spark.session import JIT_PROFILE, driver_java_options, driver_memory


def test_profile_reaches_driver_jvm(spark):
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    for flag in JIT_PROFILE:
        name, value = flag.removeprefix("-XX:").split("=")
        assert bean.getVMOption(name).getValue() == value, flag


def test_profile_alone_without_caller_options():
    assert driver_java_options(None) == " ".join(JIT_PROFILE)
    assert driver_java_options({"spark.driver.memory": "2g"}) == " ".join(JIT_PROFILE)
    assert driver_java_options({"spark.driver.extraJavaOptions": "  "}) == " ".join(JIT_PROFILE)


def test_caller_options_follow_the_profile():
    caller = "-XX:Tier4InvocationThreshold=7 -Dfoo=bar"
    opts = driver_java_options({"spark.driver.extraJavaOptions": caller})
    assert opts == " ".join(JIT_PROFILE) + " " + caller
    # HotSpot keeps the last value of a repeated flag: the caller's wins
    last = [o for o in opts.split() if o.startswith("-XX:Tier4InvocationThreshold=")][-1]
    assert last == "-XX:Tier4InvocationThreshold=7"


def test_driver_memory_prefers_the_environment():
    assert driver_memory({"SPARK_GRAFT_DRIVER_MEM": "3g"}, phys_bytes=64 << 30) == "3g"


def test_driver_memory_defaults_to_half_of_ram_capped_at_48g():
    assert driver_memory({}, phys_bytes=16 << 30) == "8192m"
    assert driver_memory({"SPARK_GRAFT_DRIVER_MEM": ""}, phys_bytes=15_600_000_000) == "7438m"
    assert driver_memory({}, phys_bytes=512 << 30) == "49152m"
    assert driver_memory({}, phys_bytes=1 << 30) == "1024m"
    # the host's own figure needs no JVM
    assert driver_memory({}).endswith("m")
