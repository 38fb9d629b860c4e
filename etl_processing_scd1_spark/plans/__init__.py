from .fraud import fraud_events, fraud_type1, fraud_type2, fraud_type3, star_denormalize

__all__ = ["fraud_events", "fraud_type1", "fraud_type2", "fraud_type3", "star_denormalize"]
