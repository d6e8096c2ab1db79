from hha_spark.operators.spike import detect_spikes, window_averages

__all__ = [
    "window_averages",
    "detect_spikes",
]
