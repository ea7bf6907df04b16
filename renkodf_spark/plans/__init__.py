from renkodf_spark.plans.audit import (  # noqa: F401
    assert_jvm_only,
    exchange_inputs,
    plan_summary,
    shuffle_inputs,
)


def bool_conf(spark, key: str, default: bool) -> bool:
    """Session conf ``key`` as a boolean: ``true`` or ``false`` in any
    case (``default`` when unset). Any other value raises ValueError
    rather than silently reading as false."""
    value = str(spark.conf.get(key, str(default)))
    if value.lower() not in ("true", "false"):
        raise ValueError(f"{key} must be 'true' or 'false', got {value!r}")
    return value.lower() == "true"
