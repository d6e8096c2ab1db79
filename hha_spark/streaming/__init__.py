from hha_spark.streaming.spike_stream import (
    evict_expired_hours,
    make_batch_processor,
    run_streaming_detector,
)


def replay_files(
    spark,
    process,
    *,
    data_root: str,
    schema,
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> None:
    """File source -> foreachBatch(process) -> availableNow, run to
    completion: one bounded replay of every file now under
    `data_root`, `max_files_per_trigger` files per micro-batch (in
    mtime order), resumable from `checkpoint`. The stream runs on
    `spark` (each micro-batch on a clone of it). A failed micro-batch
    re-raises here."""
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(data_root)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


__all__ = [
    "evict_expired_hours",
    "make_batch_processor",
    "replay_files",
    "run_streaming_detector",
]
