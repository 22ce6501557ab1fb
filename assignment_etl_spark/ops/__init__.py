"""Cleaning-operator library.

Contract (SURVEY §2.9): every logged rule is a condition plus the log row
it writes, as one Column (:func:`assignment_etl_spark.ops.quality.issue`).
Pipelines tag each source row with every rule that fired and derive the
clean table and the log stream from that one tagged frame, so each rule
has one implementation (see ops.quality). Log streams union into the
``logs`` table via :func:`assignment_etl_spark.ops.quality.union_logs`.
"""
