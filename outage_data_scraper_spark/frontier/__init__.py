from .priority import pop_wave  # noqa: F401
from .seen import BloomFilter, bloom_from_df, filter_unseen_exact, filter_unseen_sketch  # noqa: F401
