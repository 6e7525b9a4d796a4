from .explain import (  # noqa: F401
    assert_broadcast_join,
    assert_pushed_filter,
    assert_whole_stage_codegen,
    count_exchanges,
    count_nodes,
    formatted_plan,
)
