from colymer_acquirers_spark.sources.synth import (  # noqa: F401
    synth_pages,
    synth_politeness,
    synth_robots,
    synth_seeds,
)
